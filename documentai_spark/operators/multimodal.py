"""Multimodal columns: images as opaque binary + typed metadata.

The reference rasterizes PDF pages to grayscale pixmaps and runs
image-quality kernels on them (quality_analysis_updated/
universal_analyzer.py:37-39 raster scan; metrics/*.py pixel kernels).

Images decode from real bytes: PNG / BMP / PGM / PPM via the
pure-stdlib codecs in ``core.imagecodec`` (zlib inflate + scanline
unfilter for PNG); features are 4x4 block means of actual pixels, and
``extract_media_quality`` runs the reference's pixel kernels
(white-ratio blank, mean-brightness, std-contrast, dark/bright-area
shadow/glare) on the decoded raster. Other media types (audio, video)
go beyond the reference and take the 'unsupported' lane.

Spark-side design (100 TB):

- schema: ``media`` = binary payload + struct metadata
  (media_type/width/height/codec);
- partition-friendly batch iteration via ``mapInPandas`` (streamed Arrow
  batches: payloads never concatenate into one driver-side blob — each
  batch holds a bounded number of binary cells);
- downstream ops are ordinary columns (the feature vector feeds the
  similarity operators unchanged; the binary never travels past the
  decode stage).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator
from struct import error as struct_error

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from documentai_spark.core.imagecodec import (
    block_features, decode_image, pixel_quality,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("media_type", StringType(), False),   # only image decodes
    StructField("payload", BinaryType(), False),      # opaque encoded bytes
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("codec", StringType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("media_type", StringType(), False),
    StructField("n_bytes", IntegerType(), False),
    StructField("features", ArrayType(DoubleType(), False), False),
    StructField("decode_ok", StringType(), False),
])

QUALITY_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("px_blank", DoubleType(), False),
    StructField("px_brightness", DoubleType(), False),
    StructField("px_contrast", DoubleType(), False),
    StructField("px_shadow", DoubleType(), False),
    StructField("px_glare", DoubleType(), False),
])

N_FEATURES = 16


def extract_media_features(df: DataFrame) -> DataFrame:
    """media rows -> per-item feature vectors via mapInPandas.

    mapInPandas (not a scalar UDF) so each Arrow batch is processed as a
    stream: binary payloads are released batch-by-batch instead of
    accumulating per-column, which bounds worker memory when payloads are
    MBs each. Output rows are narrow (features only) — the binary never
    travels further down the plan.

    decode_ok: 'ok' | 'unsupported' (non-image media_type / null
    payload) | 'decoder_unavailable' (image format needing absent libs)
    | 'corrupt'.
    """
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            oks = []
            for mt, payload in zip(pdf["media_type"], pdf["payload"]):
                if mt != "image" or payload is None:
                    feats.append([0.0] * N_FEATURES)
                    oks.append("unsupported")
                    continue
                try:
                    gray = decode_image(bytes(payload))
                    feats.append(block_features(gray, grid=4))
                    oks.append("ok")
                except NotImplementedError:
                    feats.append([0.0] * N_FEATURES)
                    oks.append("decoder_unavailable")
                except (ValueError, struct_error, zlib.error):
                    # zlib.error: corrupt/truncated PNG IDAT stream;
                    # struct.error: truncated headers — all 'corrupt'
                    feats.append([0.0] * N_FEATURES)
                    oks.append("corrupt")
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["payload"].map(
                    lambda b: len(b) if b is not None else 0),
                "features": feats,
                "decode_ok": oks,
            })

    return df.mapInPandas(process, schema=FEATURE_SCHEMA)


def extract_media_quality(df: DataFrame) -> DataFrame:
    """Image rows -> the reference's pixel quality kernels on the REAL
    decoded raster (core.imagecodec.pixel_quality). Non-image / broken
    rows are dropped (the reference's rasterizer skips undecodable
    pages)."""
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mt, payload in zip(pdf["media_id"], pdf["media_type"],
                                        pdf["payload"]):
                if mt != "image" or payload is None:
                    continue
                try:
                    gray = decode_image(bytes(payload))
                except (NotImplementedError, ValueError, struct_error,
                        zlib.error):
                    continue
                q = pixel_quality(gray)
                rows.append((mid, gray.shape[1], gray.shape[0],
                             q["px_blank"], q["px_brightness"],
                             q["px_contrast"], q["px_shadow"],
                             q["px_glare"]))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              QUALITY_SCHEMA.fields])

    return df.mapInPandas(process, schema=QUALITY_SCHEMA)


def synthesize_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table of image rows with real
    encodings: PNG / BMP / PGM round-robin over hash-derived pixel
    blocks."""
    from documentai_spark.core.imagecodec import (
        encode_bmp, encode_pgm, encode_png,
    )
    encoders = (encode_png, encode_bmp, encode_pgm)
    codec_names = ("png", "bmp", "pgm")
    rows = []
    for i in range(n):
        h = hashlib.md5(f"{seed}|media|{i}".encode()).digest()
        w = 16 + (i * 5) % 48
        ht = 12 + (i * 3) % 36
        buf = (h * ((w * ht) // len(h) + 1))[:w * ht]
        gray = np.frombuffer(buf, dtype=np.uint8).reshape(ht, w)
        payload = encoders[i % 3](gray)
        rows.append((i, "image", bytearray(payload), w, ht,
                     codec_names[i % 3]))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
