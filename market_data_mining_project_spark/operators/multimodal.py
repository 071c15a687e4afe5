"""Multimodal (image/audio/video) column plumbing for training-data pipelines.

Media is carried as an opaque ``binary`` column + a typed metadata struct —
the schema pattern every large-scale multimodal pipeline uses (content stays
a blob; everything queryable lives in columns). Heavy per-item work (decode,
resize, feature-extract, frame-sample) runs in ``mapInPandas``: Arrow-batched
so each Python call sees thousands of rows, and the UDF is a pure
partition-local map — no shuffle, scales linearly with executors.

The actual codecs (PIL/librosa/ffmpeg) are NOT available in this container,
so ``decode_image`` is a clearly-marked stub; :func:`media_features` uses a
deterministic byte-level featurizer instead so the Spark-side plumbing
(schema, batching, UDF signature, partitioning) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def attach_media(df: DataFrame, id_col: str, payload_col: str, source: str = "synthetic") -> DataFrame:
    """Wrap an existing column as a media binary + metadata struct.

    In production the binary comes from object storage; here any string/byte
    column serves as a deterministic payload so the downstream plumbing can
    be exercised without codec libraries.
    """
    content = F.encode(F.col(payload_col).cast("string"), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        content.alias("content"),
        F.struct(
            F.concat(F.lit("fake/"), (F.col(id_col) % 3).cast("string")).alias("format"),
            F.octet_length(content).cast("long").alias("n_bytes"),
            F.lit(source).alias("source"),
        ).alias("meta"),
    )


def decode_image(content: bytes) -> "object":
    """Decode a real image payload. STUB: pillow/opencv are not installed in
    this environment — wire the real decoder here when the codec libraries
    are present. The Spark-side call path (mapInPandas batch iteration)
    is identical either way."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "image decode requires pillow; this environment has no codec "
            "libraries — use media_features()'s byte-level featurizer instead"
        ) from exc
    import io

    from PIL import Image

    return Image.open(io.BytesIO(content))  # pragma: no cover


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def media_features(media: DataFrame, chunk_size: int = 256) -> DataFrame:
    """Arrow-batched feature extraction over the binary column (mapInPandas).

    Deterministic byte-level features stand in for a real decoder: payload
    size, chunk (≈frame) count, and mean byte value. Each batch is processed
    vectorized in pandas/numpy; no data leaves its partition.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # a NULL payload (attach_media over a null source value) arrives
            # as None — treat as zero bytes rather than crashing the task
            content = pdf["content"]
            n_bytes = content.map(lambda b: len(b) if b is not None else 0).astype("int64")
            mean_byte = content.map(
                lambda b: float(np.frombuffer(b, dtype=np.uint8).mean()) if b else 0.0
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n_bytes,
                    "n_chunks": (n_bytes + chunk_size - 1) // chunk_size,
                    "format": pdf["format"],
                    "mean_byte": mean_byte.round(6),
                }
            )

    flat = media.select("media_id", "content", F.col("meta.format").alias("format"))
    return flat.mapInPandas(extract, schema=_FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n_chunks: int = 4, chunk_size: int = 256) -> DataFrame:
    """Deterministic "frame" sampling: emit every Nth fixed-size chunk of the
    payload (the video-frame-sampling shape: one input row → many output
    rows, exploded inside mapInPandas so no driver involvement)."""

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("chunk_index", T.LongType()),
            T.StructField("chunk", T.BinaryType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                if blob is None:  # null payload: no chunks (matches n_bytes=0)
                    continue
                for ci in range(0, (len(blob) + chunk_size - 1) // chunk_size, every_n_chunks):
                    ids.append(mid)
                    idxs.append(ci)
                    chunks.append(bytes(blob[ci * chunk_size : (ci + 1) * chunk_size]))
            yield pd.DataFrame({"media_id": ids, "chunk_index": idxs, "chunk": chunks})

    return media.select("media_id", "content").mapInPandas(sample, schema=schema)
