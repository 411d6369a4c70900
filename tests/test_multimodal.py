"""Multimodal tests: REAL image decode (pure-stdlib PNG/BMP/PGM codecs)
through the mapInPandas path — features come from actual pixels — the
'unsupported' lane for non-image media, plus schema/batching/determinism
plumbing."""

from __future__ import annotations

from documentai_spark.operators.multimodal import (
    N_FEATURES, extract_media_features, synthesize_media,
)


def test_media_features_schema_and_rows(spark):
    media = synthesize_media(spark, n=48)
    out = extract_media_features(media)
    rows = out.collect()
    assert len(rows) == 48
    assert set(out.columns) == {"media_id", "media_type", "n_bytes",
                                "features", "decode_ok"}
    for r in rows:
        assert len(r.features) == N_FEATURES
        assert all(0.0 <= f <= 1.0 for f in r.features)
        assert r.decode_ok == "ok"
        assert r.n_bytes > 0


def test_media_features_deterministic_across_partitioning(spark):
    media = synthesize_media(spark, n=48)
    a = {r.media_id: r.features
         for r in extract_media_features(media.repartition(1)).collect()}
    b = {r.media_id: r.features
         for r in extract_media_features(media.repartition(9)).collect()}
    assert a == b


def test_media_features_feed_similarity(spark):
    """Feature vectors compose with the similarity operators unchanged."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.similarity import brute_force_topk
    media = synthesize_media(spark, n=30)
    feats = extract_media_features(media) \
        .select(F.col("media_id").alias("vec_id"),
                F.col("features").alias("embedding"))
    anchors = feats.filter(F.col("vec_id") < 2) \
                   .select(F.col("vec_id").alias("anchor_id"), "embedding")
    out = brute_force_topk(feats, anchors, k=3,
                           id_col="vec_id", vec_col="embedding")
    got = out.collect()
    assert len(got) == 6  # 2 anchors x top-3


def test_image_features_are_real_pixels(spark):
    """A known gradient image must produce the exact 4x4 block means —
    the decode step is real, not a payload-hash fake."""
    import numpy as np

    from documentai_spark.core.imagecodec import block_features, encode_png
    from documentai_spark.operators.multimodal import MEDIA_SCHEMA

    gray = np.tile(np.linspace(0, 255, 32, dtype=np.uint8), (16, 1))
    payload = encode_png(gray)
    df = spark.createDataFrame(
        [(0, "image", bytearray(payload), 32, 16, "png")],
        MEDIA_SCHEMA)
    row = extract_media_features(df).collect()[0]
    assert row.decode_ok == "ok"
    assert row.features == block_features(gray, grid=4)
    # gradient: block means strictly increase left-to-right in each row
    for r in range(4):
        cols = row.features[r * 4:(r + 1) * 4]
        assert cols == sorted(cols)


def test_all_three_codecs_roundtrip_in_pipeline(spark):
    """synthesize_media emits real PNG/BMP/PGM payloads; every image row
    must decode 'ok' and match a direct decode of its own payload."""
    import numpy as np

    from documentai_spark.core.imagecodec import block_features, decode_image
    media = synthesize_media(spark, n=27)
    payloads = {r.media_id: (bytes(r.payload), r.codec)
                for r in media.filter("media_type = 'image'").collect()}
    assert {c for _, c in payloads.values()} == {"png", "bmp", "pgm"}
    out = {r.media_id: r for r in
           extract_media_features(media).collect() }
    for mid, (payload, codec) in payloads.items():
        r = out[mid]
        assert r.decode_ok == "ok", codec
        assert r.features == block_features(decode_image(payload))


def test_media_pixel_quality_kernels(spark):
    """extract_media_quality runs the reference pixel kernels on the
    decoded raster: a white page is blank, a black page is shadow."""
    import numpy as np

    from documentai_spark.core.imagecodec import encode_bmp
    from documentai_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_media_quality,
    )
    white = np.full((20, 30), 255, dtype=np.uint8)
    black = np.zeros((20, 30), dtype=np.uint8)
    noisy = (np.arange(600, dtype=np.uint8) % 251).reshape(20, 30)
    df = spark.createDataFrame(
        [(0, "image", bytearray(encode_bmp(white)), 30, 20, "bmp"),
         (1, "image", bytearray(encode_bmp(black)), 30, 20, "bmp"),
         (2, "image", bytearray(encode_bmp(noisy)), 30, 20, "bmp"),
         (3, "audio", bytearray(b"not an image"), None, None, "opus")],
        MEDIA_SCHEMA)
    rows = {r.media_id: r for r in extract_media_quality(df).collect()}
    assert set(rows) == {0, 1, 2}          # audio dropped
    assert rows[0].px_blank == 1.0 and rows[0].px_shadow == 0.0
    assert rows[1].px_shadow == 1.0 and rows[1].px_blank == 0.0
    assert rows[0].width == 30 and rows[0].height == 20
    assert 0.0 < rows[2].px_contrast <= 1.0


def test_corrupt_and_unsupported_payloads(spark):
    import struct

    from documentai_spark.core.imagecodec import PNG_MAGIC
    from documentai_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_media_quality,
    )

    # PNG with a valid IHDR but garbage IDAT: decode raises zlib.error,
    # which must land in the 'corrupt' lane, not crash the job (ADVICE r3)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bad_idat = b"\x00not-deflate-data\xff\xff"
    bad_png = (PNG_MAGIC +
               struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0" +
               struct.pack(">I", len(bad_idat)) + b"IDAT" + bad_idat +
               b"\0\0\0\0" +
               struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0")

    def riff(form, body):
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + form + body

    def chunk(cid, payload):
        return cid + struct.pack("<I", len(payload)) + payload

    # well-formed mono PCM16 WAV and one-frame uncompressed 8-bit AVI:
    # audio and video are not decoded, so valid payloads are
    # 'unsupported' just like garbage ones
    pcm = struct.pack("<8h", 0, 8192, 16384, 8192, 0, -8192, -16384, -8192)
    wav = riff(b"WAVE", chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000,
                                                    16000, 2, 16))
               + chunk(b"data", pcm))
    gray_palette = b"".join(bytes((v, v, v, 0)) for v in range(256))
    strf = struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 16, 0, 0, 256,
                       0) + gray_palette
    avih = struct.pack("<14I", 100000, 0, 0, 0, 1, 0, 1, 16, 4, 4,
                       0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + chunk(
        b"LIST", b"strl" + chunk(b"strh", b"vids" + bytes(52))
        + chunk(b"strf", strf)))
    avi = riff(b"AVI ", hdrl + chunk(b"LIST", b"movi"
                                     + chunk(b"00db", bytes(range(16)))))

    df = spark.createDataFrame(
        [(0, "image", bytearray(b"\xff\xd8\xff JPEG-ish"), 1, 1, "jpeg"),
         (1, "image", bytearray(b"BM garbage"), 1, 1, "bmp"),
         (2, "image", bytearray(bad_png), 4, 4, "png"),
         (3, "audio", bytearray(wav), None, None, "pcm_s16le"),
         (4, "video", bytearray(avi), 4, 4, "rawvideo")],
        MEDIA_SCHEMA)
    rows = {r.media_id: r for r in extract_media_features(df).collect()}
    assert rows[0].decode_ok == "decoder_unavailable"   # unknown magic
    assert rows[1].decode_ok == "corrupt"               # truncated BMP
    assert rows[2].decode_ok == "corrupt"               # zlib.error IDAT
    for mid in (3, 4):                                  # audio, video
        assert rows[mid].decode_ok == "unsupported"
        assert rows[mid].features == [0.0] * N_FEATURES

    # extract_media_quality must likewise drop (not crash on) the bad
    # PNG/BMP rows — zlib.error and struct.error lanes — and the
    # non-image rows
    q = extract_media_quality(df).collect()
    assert q == []
