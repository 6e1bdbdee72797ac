"""Multimodal plumbing: binary payload metadata via mapInPandas, frame plan."""

import hashlib

import pytest
from pyspark.sql import functions as F

from ecokg_spark.operators.multimodal import (
    decode_image_real,
    decode_image_stub,
    extract_media_meta,
    frame_sample_plan,
)


def synth_media(spark, n: int = 100):
    """Deterministic fake media table: payload bytes derived from the id
    (expression-only, distributed)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") % 3 == 0, "image").when(F.col("id") % 3 == 1, "audio")
        .otherwise("video").alias("kind"),
        F.encode(
            F.concat(F.lit("payload-"), F.col("id"), F.lit("-"),
                     F.repeat(F.lit("x"), (F.col("id") % 50 + 1).cast("int"))),
            "UTF-8",
        ).alias("payload"),
        (F.col("id") % 100 + 1).cast("int").alias("n_frames"),
    )


def test_media_meta(spark):
    media = synth_media(spark, 30)
    meta = extract_media_meta(media)
    rows = {r["media_id"]: r for r in meta.collect()}
    assert len(rows) == 30
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, p in payloads.items():
        assert rows[mid]["byte_len"] == len(p)
        assert rows[mid]["sha256"] == hashlib.sha256(p).hexdigest()
        w, h, c = decode_image_stub(p)
        assert (rows[mid]["width"], rows[mid]["height"], rows[mid]["n_channels"]) == (w, h, c)


def test_real_decode_rejects_unknown_containers():
    with pytest.raises(ValueError):
        decode_image_real(b"xx")


def test_decode_image_real_headers():
    """Stdlib header parser: PNG IHDR (incl. non-RGB color types), GIF
    logical screen, JPEG SOF0 + progressive SOF2 behind APP segments;
    junk falls back to the deterministic stub via decode_dims."""
    import struct

    from ecokg_spark.operators.multimodal import (
        decode_dims,
        decode_image_real,
        decode_image_stub,
        synth_image_payload,
    )

    # synth payloads round-trip their planted dims
    for i in (0, 1, 2, 33, 64, 127):
        w, h, ch = decode_image_real(synth_image_payload(i))
        k = i % 3
        if k == 0:
            assert (w, h, ch) == (i % 64 + 1, (i * 7) % 64 + 1, 3)
        elif k == 1:
            assert (w, h, ch) == (i % 64 + 5, i % 32 + 2, 3)
        else:
            assert (w, h, ch) == ((i * 3) % 64 + 1, i % 64 + 9, 3)

    # grayscale PNG -> 1 channel; RGBA -> 4
    def png(w, h, color_type):
        ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + ihdr + b"\x00" * 4)

    assert decode_image_real(png(640, 480, 0)) == (640, 480, 1)
    assert decode_image_real(png(10, 20, 6)) == (10, 20, 4)

    # progressive JPEG (SOF2) with a leading APP1 segment
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof2 = (b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
            + struct.pack(">HH", 300, 200) + bytes([1]) + b"\x00" * 3)
    assert decode_image_real(b"\xff\xd8" + app1 + sof2) == (200, 300, 1)

    # junk -> ValueError from the parser, stub via decode_dims
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_image_real(b"not an image")
    assert decode_dims(b"not an image") == decode_image_stub(b"not an image")
    assert decode_dims(b"") == (0, 0, 0)
    # truncated PNG signature -> stub, not crash
    assert decode_dims(b"\x89PNG\r\n\x1a\n\x00\x00") == decode_image_stub(
        b"\x89PNG\r\n\x1a\n\x00\x00")


def test_byte_features_matches_numpy(spark):
    import numpy as np
    from ecokg_spark.operators.multimodal import byte_features

    media = synth_media(spark, 20)
    got = {r["media_id"]: r for r in byte_features(media).collect()}
    for row in media.select("media_id", "payload").collect():
        a = np.frombuffer(bytes(row["payload"]), dtype=np.uint8)
        r = got[row["media_id"]]
        assert r["byte_len"] == len(a)
        assert abs(r["mean_byte"] - a.sum() / len(a)) < 1e-12
        assert r["n_marker"] == int((a == 0x78).sum())
        assert len(r["hist"]) == 16
        assert abs(sum(r["hist"]) - 1.0) < 1e-9


def test_byte_features_empty_payload(spark):
    from ecokg_spark.operators.multimodal import byte_features

    df = spark.createDataFrame([(1, bytearray(b""))],
                               "media_id long, payload binary")
    r = byte_features(df).collect()[0]
    assert (r["byte_len"], r["mean_byte"], r["n_marker"]) == (0, 0.0, 0)
    assert r["hist"] == [0.0] * 16


def test_resize_plan_aspect_preserving(spark):
    from ecokg_spark.operators.multimodal import resize_plan

    meta = spark.createDataFrame(
        [(1, 640, 480), (2, 100, 200), (3, 50, 50), (4, 0, 300)],
        "media_id long, width int, height int")
    got = {r["media_id"]: r for r in
           resize_plan(meta, max_side=224).collect()}
    assert (got[1]["out_w"], got[1]["out_h"], got[1]["resized"]) \
        == (224, 168, True)
    assert (got[2]["out_w"], got[2]["out_h"]) == (100, 200)  # within box
    assert got[2]["resized"] is False
    assert (got[3]["out_w"], got[3]["out_h"]) == (50, 50)
    # zero width clamps to 1 before scaling, never emits 0
    assert got[4]["out_w"] >= 1 and got[4]["out_h"] == 224


def test_audio_chunk_plan_boundaries(spark):
    from ecokg_spark.operators.multimodal import audio_chunk_plan

    df = spark.createDataFrame(
        [(1, 70_000), (2, 30_000), (3, 10_000), (4, 61_000)],
        "doc_id long, duration_ms long")
    out = audio_chunk_plan(df, chunk_ms=30_000, overlap_ms=5_000)
    by = {}
    for r in out.collect():
        by.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_ms"], r["end_ms"]))
    for v in by.values():
        v.sort()
    # 70s at 25s step: chunks at 0, 25, 50 (clamped)
    assert by[1] == [(0, 0, 30_000), (1, 25_000, 55_000), (2, 50_000, 70_000)]
    assert by[2] == [(0, 0, 30_000)]           # exactly one chunk
    assert by[3] == [(0, 0, 10_000)]           # short item clamps
    assert by[4][-1] == (2, 50_000, 61_000)    # last chunk clamped


def test_audio_chunk_plan_rejects_bad_overlap(spark):
    import pytest as _pytest

    from ecokg_spark.operators.multimodal import audio_chunk_plan

    df = spark.createDataFrame([(1, 1000)], "doc_id long, duration_ms long")
    with _pytest.raises(ValueError, match="overlap_ms"):
        audio_chunk_plan(df, chunk_ms=10, overlap_ms=10)


def test_frame_sample_plan(spark):
    from ecokg_spark.operators.multimodal import frame_sample_plan

    media = spark.createDataFrame(
        [(1, 2000, 30), (2, 100, 30), (3, 0, 30), (4, 10_000, 10)],
        "doc_id long, duration_ms long, fps int")
    out = frame_sample_plan(media, fps_col="fps", every_n=30).collect()
    rows = {}
    for r in out:
        rows.setdefault(r["doc_id"], []).append(
            (r["frame_idx"], r["ts_ms"], r["n_sampled"]))
    # item 1: 2000ms @30fps = 60 frames -> ceil(60/30) = 2 samples
    assert sorted(rows[1]) == [(0, 0, 2), (30, 1000, 2)]
    # item 2: 100ms @30fps = 3 frames -> 1 sample at t=0
    assert rows[2] == [(0, 0, 1)]
    # item 3: zero duration -> no rows
    assert 3 not in rows
    # item 4: 10s @10fps = 100 frames -> ceil(100/30) = 4 samples;
    # ts = idx*30*1000 div 10
    assert sorted(rows[4]) == [(0, 0, 4), (30, 3000, 4),
                               (60, 6000, 4), (90, 9000, 4)]


def test_frame_sample_plan_cap(spark):
    from ecokg_spark.operators.multimodal import frame_sample_plan

    media = spark.createDataFrame(
        [(1, 3_600_000)], "doc_id long, duration_ms long")
    out = frame_sample_plan(media, fps=30, every_n=30,
                            max_frames=10).collect()
    assert len(out) == 10 and all(r["n_sampled"] == 10 for r in out)
    assert max(r["frame_idx"] for r in out) == 270

    import pytest as _pytest
    with _pytest.raises(ValueError):
        frame_sample_plan(media, every_n=0)
