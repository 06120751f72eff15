"""Multimodal column plumbing (training-data-pipeline op).

Images/audio/video ride as opaque `binary` columns with typed metadata
structs. The Spark-side plumbing — schema, Arrow batch shape, partitioning,
UDF signatures — is real and tested; the actual media decode is stubbed
(this container has no image/audio libraries) behind `_decode_stub`, which
produces a deterministic fake so tests can assert the full path.

At scale: binary payloads dominate partition size → size partitions by
`spark.sql.files.maxPartitionBytes`, keep metadata in separate columns so
pruning works, and never collect payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)


def to_media_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pose the documents table as a media table: payload = utf-8 bytes of
    the text (the plumbing is identical for real image bytes)."""
    return docs.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.octet_length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
    )


def _pil_available() -> bool:
    """Capability probe: a real image decoder is present. Evaluated inside
    the worker (the decode library must exist on EXECUTORS, not the
    driver)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def _decode_image_real(payload: bytes) -> list[float]:
    """Real image decode path (used when PIL is installed): decode, resize
    to a fixed thumbnail, return coarse channel statistics — the stand-in
    for a model featurizer, with the real decode cost."""
    import io

    import numpy as np
    from PIL import Image

    img = Image.open(io.BytesIO(payload)).convert("RGB").resize((8, 8))
    arr = np.asarray(img, dtype="float64")
    return [
        float(arr.mean()),
        float(arr.std()),
        float(arr[..., 0].mean()),
        float(arr[..., 2].mean()),
    ]


def _decode_stub(payload: bytes | None, media_type: str) -> list[float]:
    """Deterministic fake decoder. A real deployment would replace this
    with PIL/torchaudio/ffmpeg decode + model feature extraction. Raises
    for media types a real decoder would not support either."""
    if media_type not in ("text/plain", "image/png", "audio/wav"):
        raise NotImplementedError(f"no decoder for {media_type}")
    if payload is None:
        return [0.0] * 4
    n = len(payload)
    s = sum(payload[:256])
    return [float(n), float(s % 997), float(payload[0] if n else 0), float(payload[-1] if n else 0)]


def _decode(payload: bytes | None, media_type: str, real_images: bool) -> list[float]:
    """Dispatch: real decoder when the capability is present AND the
    payload is an image; the deterministic stub otherwise (keeps tests
    and this container working without media libraries)."""
    if real_images and media_type == "image/png" and payload is not None:
        return _decode_image_real(payload)
    return _decode_stub(payload, media_type)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the Arrow
    batch shape (bytes columns in, fixed-width array out) matches a real
    image/audio featurizer. Image decode upgrades itself automatically
    when PIL is available on the executors (capability flag probed once
    per Python worker)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        real_images = _pil_available()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = [
                _decode(p, m, real_images)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
