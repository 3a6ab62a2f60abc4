"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side contract (schemas, partitioning, batch shapes, UDF signatures)
is real and tested.  Decoding (round 6): format sniffing + header metadata
for PNG/GIF/BMP/JPEG/WAV, PNG pixel decode, and WAV PCM decode are REAL and
pure-stdlib (operators/media_codecs.py - zlib/struct/numpy only); pass
``decode_fn=real_media_meta`` to run them through this module's mapInPandas
path.  JPEG pixel decode and video remain STUBBED behind ``decode_fn``
hooks - the container has no image/video libraries - and the deterministic
fakes stay for oracle-checked pipeline tests.

Scale notes: binary payloads ride the shuffle - avoid repartitioning blobs;
``mapInPandas`` streams Arrow batches so one task never materializes a whole
partition of blobs; metadata-only operations project the blob column away
before any wide transform.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),   # image|audio|video
    T.StructField("format", T.StringType()),       # png|jpeg|wav|mp4|...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])


def with_blob_meta(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Cheap metadata that never decodes: byte size + content hash.
    Stays JVM-side."""
    b = F.col(blob_col)
    return df.withColumn("n_bytes", F.octet_length(b)).withColumn(
        "content_hash", F.md5(b)
    )


def fake_decode_image(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: derives plausible
    dimensions from the payload bytes.  Replace with PIL on a real cluster."""
    n = len(payload)
    return {
        "media_type": "image",
        "format": "fake",
        "width": 64 + (n % 512),
        "height": 64 + ((n // 7) % 512),
        "n_frames": 1,
        "sample_rate": None,
        "duration_ms": None,
    }


def fake_decode_video(payload: bytes) -> dict:
    """Deterministic stand-in for a video decoder.  The derived fields are
    pure functions of the byte length, so pipelines built on this fake stay
    SQL-expressible (the driver oracle recomputes them from octet_length)
    while still exercising the real mapInPandas decode path."""
    n = len(payload)
    duration_ms = 1000 + (n % 10_000)
    return {
        "media_type": "video",
        "format": "fake",
        "width": 640,
        "height": 360,
        "n_frames": max(duration_ms // 40, 1),
        "sample_rate": None,
        "duration_ms": duration_ms,
    }


def fake_decode_audio(payload: bytes) -> dict:
    """Deterministic stand-in for an audio decoder (sample_rate/duration
    derived from byte length - same fake convention as image/video, so
    oracles recompute them from octet_length)."""
    n = len(payload)
    return {
        "media_type": "audio",
        "format": "fake",
        "width": None,
        "height": None,
        "n_frames": None,
        "sample_rate": 16000 if n % 2 == 0 else 44100,
        "duration_ms": 500 + (n % 60_000),
    }


def audio_resample_plan(
    df: DataFrame,
    target_rate: int,
    meta_col: str = "meta",
) -> DataFrame:
    """Plan-side audio resample: marks rows whose sample_rate differs from
    ``target_rate`` and computes the resampled frame count - the cheap
    arithmetic stays JVM-side; the DSP plugs into a mapInPandas stage
    exactly like :func:`resize_images` (``media_codecs.resample_wav`` is
    the dependency-free linear-interp implementation for WAV; swap in
    librosa/torchaudio for filtered resampling of other formats)."""
    sr = F.col(f"{meta_col}.sample_rate")
    dur = F.col(f"{meta_col}.duration_ms")
    return df.where(F.col(f"{meta_col}.media_type") == "audio").select(
        "*",
        (sr != target_rate).alias("needs_resample"),
        F.lit(target_rate).alias("target_rate"),
        (dur * target_rate / 1000).cast("long").alias("target_n_samples"),
    )


def resample_audio(
    df: DataFrame,
    target_rate: int,
    blob_col: str = "blob",
    meta_col: str = "meta",
    resample_fn: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """Resample audio blobs to ``target_rate`` via mapInPandas - the audio
    twin of :func:`resize_images`.  Non-audio rows pass through untouched;
    audio rows get the transformed payload and a meta struct updated to the
    new rate (n_frames rescales, duration is preserved).  Default
    ``resample_fn`` is the real dependency-free linear-interp WAV resampler
    (media_codecs.resample_wav); windowed-sinc libraries plug in the same
    way."""
    if resample_fn is None:
        from aliyun_maxcompute_data_collectors_spark.operators.media_codecs import resample_wav
        resample_fn = resample_wav

    out_schema = df.schema
    cols = [f.name for f in df.schema.fields]
    is_meta = meta_col in cols

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()

            def one(payload, meta):
                if payload is None:
                    return payload, meta
                if is_meta and meta is not None \
                        and meta.get("media_type") != "audio":
                    return payload, meta
                new_payload = resample_fn(bytes(payload), target_rate)
                if meta is not None:
                    meta = dict(meta)
                    old_rate = meta.get("sample_rate")
                    if old_rate and meta.get("n_frames"):
                        meta["n_frames"] = round(
                            meta["n_frames"] * target_rate / old_rate)
                    meta["sample_rate"] = target_rate
                return new_payload, meta

            pairs = [one(p, m) for p, m in
                     zip(pdf[blob_col],
                         pdf[meta_col] if is_meta else [None] * len(pdf))]
            pdf[blob_col] = [p for p, _ in pairs]
            if is_meta:
                pdf[meta_col] = [m for _, m in pairs]
            yield pdf[cols]

    return df.mapInPandas(gen, schema=out_schema)


def real_media_meta(payload: bytes) -> dict:
    """REAL metadata decoder (round 6): magic-byte sniff + header parse for
    PNG/GIF/BMP/JPEG/WAV via the pure-stdlib codecs - a drop-in
    ``decode_fn`` for :func:`decode_media` that needs no media library.
    Unparseable blobs come back ``format='unknown'`` rather than raising."""
    from aliyun_maxcompute_data_collectors_spark.operators.media_codecs import sniff_media_meta
    return sniff_media_meta(payload)


def decode_media(
    df: DataFrame,
    blob_col: str = "blob",
    decode_fn: Callable[[bytes], dict] = fake_decode_image,
    batch_size_hint: int = 256,
) -> DataFrame:
    """Attach a ``meta`` struct column by decoding each blob in Arrow batches.

    The output schema is fixed (MEDIA_META_SCHEMA) regardless of decoder -
    the contract downstream operators partition/filter on."""
    out_schema = T.StructType(df.schema.fields + [T.StructField("meta", MEDIA_META_SCHEMA)])
    other_cols = [f.name for f in df.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                None if payload is None else decode_fn(bytes(payload))
                for payload in pdf[blob_col]
            ]
            pdf = pdf.copy()
            pdf["meta"] = [
                None if m is None else {k: m.get(k) for k in
                                        ("media_type", "format", "width", "height",
                                         "n_frames", "sample_rate", "duration_ms")}
                for m in metas
            ]
            yield pdf[other_cols + ["meta"]]

    return df.mapInPandas(gen, schema=out_schema)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int,
    blob_col: str = "blob",
    meta_col: str = "meta",
) -> DataFrame:
    """Explode a video row into per-frame extraction tasks
    (frame_idx, frame_ts_ms) WITHOUT decoding - pure plan arithmetic, so the
    expensive decode fans out across the cluster with the blob shipped once
    per task group."""
    dur = F.col(f"{meta_col}.duration_ms")
    n = F.greatest(F.floor(dur / every_ms).cast("int"), F.lit(1))
    return df.where(F.col(f"{meta_col}.media_type") == "video").select(
        "*",
        F.explode(F.sequence(F.lit(0), n - 1)).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


def extract_features(
    df: DataFrame,
    blob_col: str = "blob",
    feature_fn: Callable[[bytes], list[float]] | None = None,
    dim: int = 8,
) -> DataFrame:
    """Feature extraction as mapInPandas -> array<float>.  Default is a
    deterministic byte-histogram fake (plumbing-testable); real extractors
    plug into ``feature_fn`` - ``media_codecs.media_features`` gives honest
    numpy DSP/image statistics for PNG/WAV with no extra libraries."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )
    cols = [f.name for f in df.schema.fields]

    def default_fn(payload: bytes) -> list[float]:
        import numpy as np
        arr = np.frombuffer(payload, dtype=np.uint8)
        if arr.size == 0:
            return [0.0] * dim
        hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
        return (hist / arr.size).astype(float).round(6).tolist()

    fn = feature_fn or default_fn

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = [
                None if p is None else fn(bytes(p)) for p in pdf[blob_col]
            ]
            yield pdf[cols + ["features"]]

    return df.mapInPandas(gen, schema=out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    blob_col: str = "blob",
    meta_col: str = "meta",
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize image blobs to (target_w, target_h) via mapInPandas.

    The Spark-side contract is real - Arrow-batched binary in/out, meta
    struct updated to the new dimensions, non-images passed through
    untouched; the pixel transform itself is pluggable.  The default
    ``resize_fn`` is a deterministic fake (no imaging libs in this
    container: it stamps the new size into the payload header) clearly
    marked for replacement with PIL/opencv on a real deployment.
    """
    if resize_fn is None:
        def resize_fn(payload: bytes, w: int, h: int) -> bytes:  # noqa: F811
            # FAKE RESIZE - deterministic stand-in, replace with
            # PIL.Image.resize in production.  Keeps the original bytes
            # with a stamped header so tests can assert the contract.
            return b"RESIZED:%dx%d:" % (w, h) + payload

    out_schema = df.schema
    cols = [f.name for f in df.schema.fields]
    is_meta = meta_col in cols

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            def one(row):
                payload, meta = row
                if payload is None:
                    return payload, meta
                if is_meta and meta is not None and meta.get("media_type") != "image":
                    return payload, meta
                new_payload = resize_fn(bytes(payload), target_w, target_h)
                if meta is not None:
                    meta = dict(meta)
                    meta["width"], meta["height"] = target_w, target_h
                return new_payload, meta
            pairs = [one((p, m)) for p, m in
                     zip(pdf[blob_col], pdf[meta_col] if is_meta else [None] * len(pdf))]
            pdf[blob_col] = [p for p, _ in pairs]
            if is_meta:
                pdf[meta_col] = [m for _, m in pairs]
            yield pdf[cols]

    return df.mapInPandas(gen, schema=out_schema)
