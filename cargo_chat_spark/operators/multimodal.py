"""Multimodal column conventions (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages. The decode kernels themselves are
STUBBED (no codec libraries in this environment): ``fake=True`` uses a
deterministic byte-statistics kernel so the Spark-side plumbing — schema,
batching, partitioning — is real and testable; ``fake=False`` raises
NotImplementedError where a real libjpeg/ffmpeg call would go.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id bigint, feature array<double>, decode_ok boolean"


def attach_media_columns(df: DataFrame, payload_col: str, media_type: str) -> DataFrame:
    """Wrap a binary column into the media convention with stub metadata."""
    return df.select(
        F.col("media_id"),
        F.col(payload_col).alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit("unknown").alias("codec"),
        ).alias("meta"),
    )


def _decode_features_fn(n_features: int, fake: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real media decode requires codec libraries (libjpeg/"
                    "ffmpeg) not present in this environment; plug the "
                    "decoder in here"
                )
            feats, ok = [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                if not b:
                    feats.append([0.0] * n_features)
                    ok.append(False)
                    continue
                # deterministic byte-statistics "features": mean byte value
                # per stride bucket — stands in for a decoded-pixel featurizer
                buckets = [[] for _ in range(n_features)]
                for i, byte in enumerate(b):
                    buckets[i % n_features].append(byte)
                feats.append(
                    [ (sum(x) / len(x) / 255.0) if x else 0.0 for x in buckets ]
                )
                ok.append(True)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "decode_ok": ok,
                }
            )

    return fn


def extract_features(
    media: DataFrame, n_features: int = 8, fake: bool = True
) -> DataFrame:
    """Decode + featurize as a mapInPandas stage (Arrow batches; one
    decoder instance per task)."""
    return media.mapInPandas(_decode_features_fn(n_features, fake), FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, frame_len int, frame_md5 string"
)

RESIZED_SCHEMA = (
    "media_id bigint, payload binary, media_type string, "
    "meta struct<width:int, height:int, codec:string>"
)


def _frame_sample_fn(frame_bytes: int, stride: int, fake: bool):
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real frame sampling requires a video demuxer (ffmpeg) "
                    "not present in this environment; plug it in here"
                )
            ids, idxs, lens, md5s = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, stride):
                    chunk = b[k * frame_bytes : (k + 1) * frame_bytes]
                    ids.append(media_id)
                    idxs.append(k)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return fn


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 64,
    stride: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Frame sampling as a 1→N Arrow ``mapInPandas`` stage: each payload
    expands to every ``stride``-th fixed-size frame (deterministic fake
    demuxer: consecutive ``frame_bytes`` chunks stand in for decoded
    frames; the real ffmpeg call goes where the NotImplementedError is).
    Output rows carry the frame's length and md5, not the bytes — the
    shape a fingerprint/near-dup pass over video frames consumes.
    Parallelism is the scan partitioning; no shuffle is introduced."""
    return media.mapInPandas(
        _frame_sample_fn(frame_bytes, stride, fake), FRAME_SCHEMA
    )


def _resize_fn(out_w: int, out_h: int, fake: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = out_w * out_h
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real resize requires an image codec (libjpeg + "
                    "Pillow/opencv) not present in this environment"
                )
            payloads = []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                if not b:
                    payloads.append(b"\x00" * n_out)
                    continue
                # deterministic box-mean "resize": bucket the byte stream
                # into out_w*out_h cells, one mean byte per cell
                sums = [0] * n_out
                cnts = [0] * n_out
                for i, byte in enumerate(b):
                    j = i * n_out // len(b)
                    sums[j] += byte
                    cnts[j] += 1
                payloads.append(
                    bytes(
                        (sums[j] // cnts[j]) if cnts[j] else 0
                        for j in range(n_out)
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": pdf["media_type"],
                    "meta": [
                        {"width": out_w, "height": out_h, "codec": "raw"}
                        for _ in range(len(pdf))
                    ],
                }
            )

    return fn


def resize_media(
    media: DataFrame, out_w: int = 8, out_h: int = 8, fake: bool = True
) -> DataFrame:
    """Resize as a payload→payload Arrow stage preserving the media-column
    convention (meta.width/height updated): output payloads are exactly
    ``out_w*out_h`` bytes, so downstream featurizers see a fixed shape."""
    return media.mapInPandas(_resize_fn(out_w, out_h, fake), RESIZED_SCHEMA)
