"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested; the codec step is a stand-in: the
encoder produces a DETERMINISTIC FAKE feature vector derived from the
payload bytes (seeded by md5), and resize keeps every stride-th byte, so
every downstream operator (dedup, ANN, joins) exercises true end-to-end.

Schema convention:
    media(media_id long, kind string, payload binary,
          meta struct<mime:string, width:int, height:int, duration_ms:int>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nilinker_spark.config import local_frame
from nilinker_spark.functions.hashing import h60_value

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real image/audio encoder: md5-lattice
    unit vector.  Pure md5 + affine arithmetic (no library RNG) so an
    independent SQL engine can recompute it — the media_features contract
    query's DuckDB twin does, hash-exactly (same construction as the LSH
    hyperplane constants).  component_i = 2*(md5_60bit(head#i)/2^60) - 1,
    L2-normalized in float64, stored float32."""
    head = hashlib.md5(payload).hexdigest()
    vals = []
    for i in range(dim):
        vals.append(2.0 * (h60_value(f"{head}#{i}") / float(1 << 60)) - 1.0)
    v = np.array(vals, dtype=np.float64)
    n = float(np.sqrt((v * v).sum())) or 1.0
    return (v / n).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, payload, meta) -> (media_id, kind, n_bytes, features).

    mapInPandas over Arrow batches; the per-row encode is the only Python
    loop, exactly as a real encoder would run."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                feats.append([float(x) for x in _fake_features(bytes(payload))])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len),
                    "features": feats,
                }
            )

    schema = "media_id long, kind string, n_bytes long, features array<float>"
    return media.mapInPandas(run, schema)


def frame_sample(media: DataFrame, frame_bytes: int = 64, every_n: int = 4) -> DataFrame:
    """Video frame sampling plumbing: split the payload into fixed-size
    'frames' and keep every n-th — (media_id, frame_idx, frame binary).

    Relational where possible: the split positions come from a native
    sequence/transform; only the byte slicing itself is in the UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = max(1, len(b) // frame_bytes)
                for k in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(k)
                    frames.append(b[k * frame_bytes : (k + 1) * frame_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, frame binary"
    )


def resize_media(media: DataFrame, target_w: int = 4, target_h: int = 4) -> DataFrame:
    """Resize plumbing (the third op of the brief's decode / feature-
    extract / resize / frame-sample quartet): payload -> resized payload
    with the meta struct's dimensions updated.

    The codec-free stand-in downsamples DETERMINISTICALLY — keep every
    stride-th byte, stride = max(1, (w*h) // (target_w*target_h)) from
    the meta dims — so output size tracks the area ratio like a real
    resample and an independent SQL engine can recompute the bytes
    (media_resize contract row).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload, out_meta = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                b = bytes(payload)
                w = (meta.get("width") if isinstance(meta, dict) else meta["width"]) or 1
                h = (meta.get("height") if isinstance(meta, dict) else meta["height"]) or 1
                stride = max(1, (w * h) // (target_w * target_h))
                out_payload.append(b[::stride])
                m = dict(meta) if isinstance(meta, dict) else dict(meta.asDict())
                m["width"], m["height"] = target_w, target_h
                out_meta.append(m)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out_payload,
                    "meta": out_meta,
                }
            )

    return media.mapInPandas(run, MEDIA_SCHEMA)


def make_media_fixture(spark, n: int = 50, seed: int = 42) -> DataFrame:
    """Seeded synthetic media table (payload = deterministic pseudo-bytes)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.integers(64, 512))
        payload = bytes(rng.integers(0, 256, size=size, dtype=np.uint8))
        meta = ("application/octet-stream", int(rng.integers(4, 64)), int(rng.integers(4, 64)), int(rng.integers(0, 10_000)))
        rows.append((i, kind, payload, meta))
    return local_frame(spark, MEDIA_SCHEMA, rows)
