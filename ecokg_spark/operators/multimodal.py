"""Multimodal column plumbing: opaque `binary` payloads + typed metadata.

The Spark-side machinery is real and tested — schema, partition-friendly
batch shape, Arrow UDF signatures over `mapInPandas`. Header-level decode
is REAL: `decode_image_real` parses PNG/GIF/JPEG container headers with
pure stdlib `struct` (width/height/channels — no image library needed).
Full PIXEL decode still needs a codec (PIL/libvips, not in this
container), so `decode_dims` falls back to `decode_image_stub` —
deterministic fake dimensions derived from payload bytes — for anything
that isn't a recognized image container. Swapping in a real codec changes
ONE function, not the plan.

Batch shape: mapInPandas with a bounded `maxRecordsPerBatch` so a batch of
(say) 10k x 1 MB images never materializes more than ~WORKER_MEM/8 at once;
media tables should be written with small row groups for the same reason.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "media_id long, kind string, byte_len long, sha256 string, "
    "width int, height int, n_channels int"
)


# color type -> sample channels, PNG spec 11.2.2 (IHDR)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOFn markers that carry frame dimensions (C0-CF minus C4/C8/CC)
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """(width, height, n_channels) from the container HEADER — pure stdlib
    `struct`, no image library needed:

      PNG : 8-byte signature, then the IHDR chunk (width/height as
            big-endian u32 at offsets 16/20; channels from color type).
      GIF : 'GIF87a'/'GIF89a', logical-screen width/height as
            little-endian u16 at offset 6; palettes decode to RGB.
      JPEG: SOI then marker scan to the first SOFn segment
            (precision u8, height u16be, width u16be, n_components u8).

    Raises ValueError on anything else — full PIXEL decode still needs a
    real codec (PIL/libvips), but dimensions/channels never did."""
    import struct

    if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        color_type = payload[25]
        return (w, h, _PNG_CHANNELS.get(color_type, 3))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h, 3)
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", payload[pos + 5:pos + 9])
                return (w, h, payload[pos + 9])
            seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
            pos += 2 + seg_len
        raise ValueError("JPEG without SOF frame header")
    raise ValueError("unknown image container")


def decode_image_stub(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: dimensions derived from payload bytes —
    keeps the full pipeline testable end-to-end."""
    if not payload:
        return (0, 0, 0)
    w = 16 + (payload[0] % 64) * 16
    h = 16 + (payload[-1] % 64) * 16
    return (w, h, 3)


def decode_dims(payload: bytes) -> tuple[int, int, int]:
    """Header parse when the payload is a recognized image container,
    deterministic stub otherwise (audio/video/opaque blobs — a real codec
    integration would extend decode_image_real, not this dispatch)."""
    import struct

    try:
        return decode_image_real(payload)
    except (ValueError, IndexError, struct.error):
        return decode_image_stub(payload)


def extract_media_meta(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
) -> DataFrame:
    """(media_id, kind, byte_len, sha256, width, height, n_channels) via
    mapInPandas — the decode loop is per-batch Python over Arrow batches;
    hashing/len are recomputed JVM-side cheaply but kept here to show the
    one-pass batch pattern."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            dims = payloads.map(lambda b: decode_dims(bytes(b) if b is not None else b""))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "kind": pdf[kind_col],
                    "byte_len": payloads.map(lambda b: len(b) if b is not None else 0),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b) if b is not None else b"").hexdigest()
                    ),
                    "width": dims.map(lambda d: d[0]),
                    "height": dims.map(lambda d: d[1]),
                    "n_channels": dims.map(lambda d: d[2]),
                }
            )

    return media.select(id_col, payload_col, kind_col).mapInPandas(
        batches, schema=MEDIA_META_SCHEMA
    )


def byte_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    marker_byte: int = 0x78,
    bins: int = 16,
) -> DataFrame:
    """Codec-free feature extraction over opaque binary payloads (the
    'feature-extract' stage of the multimodal pipeline): byte length, mean
    byte value, the count/fraction of a marker byte, and a normalized
    `bins`-bin byte-value histogram usable as a crude similarity embedding.
    One Arrow-batched pass (mapInPandas + numpy.bincount) — REAL
    computation, no decode stub involved, works for image/audio/video
    alike because it never interprets the container."""
    import numpy as np

    schema = (f"{id_col} long, byte_len long, mean_byte double, "
              f"n_marker long, frac_marker double, hist array<double>")
    width = 256 // bins

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, b in zip(pdf[id_col], pdf[payload_col]):
                a = np.frombuffer(bytes(b) if b is not None else b"",
                                  dtype=np.uint8)
                n = len(a)
                counts = np.bincount(a // width, minlength=bins).astype("f8")
                rows.append({
                    id_col: mid,
                    "byte_len": n,
                    "mean_byte": float(a.sum()) / n if n else 0.0,
                    "n_marker": int((a == marker_byte).sum()),
                    "frac_marker": float((a == marker_byte).sum()) / n
                    if n else 0.0,
                    "hist": (counts / n).tolist() if n
                    else [0.0] * bins,
                })
            yield pd.DataFrame(rows, columns=[
                id_col, "byte_len", "mean_byte", "n_marker", "frac_marker",
                "hist"])

    return media.select(id_col, payload_col).mapInPandas(
        batches, schema=schema)


def resize_plan(
    meta: DataFrame,
    max_side: int = 224,
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Aspect-preserving resize PLAN (the 'resize' stage): target
    dimensions computed as pure Catalyst arithmetic from extracted
    metadata — images already within the box keep their size. The pixel
    resample itself would be one more mapInPandas over (media_id,
    out_w, out_h) once a codec is present; planning never needed one."""
    w = F.greatest(F.col(width_col), F.lit(1))
    h = F.greatest(F.col(height_col), F.lit(1))
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    return meta.withColumns({
        "out_w": F.greatest(F.floor(w * scale), F.lit(1)).cast("int"),
        "out_h": F.greatest(F.floor(h * scale), F.lit(1)).cast("int"),
        "resized": (F.greatest(w, h) > max_side),
    })


def synth_image_payload(media_id: int) -> bytes:
    """Deterministic minimal-but-REAL image container headers whose
    dimensions derive arithmetically from the id — the SQL oracle
    recomputes width/height from media_id alone, so a driver-green row
    proves the stdlib header parser actually recovers the planted dims.

    id % 3 == 0 -> PNG (RGB),  w = id%64+1,     h = (id*7)%64+1
    id % 3 == 1 -> GIF89a,     w = id%64+5,     h = id%32+2
    id % 3 == 2 -> JPEG SOF0,  w = (id*3)%64+1, h = id%64+9   (3 comps)"""
    import struct

    k = media_id % 3
    if k == 0:
        w, h = media_id % 64 + 1, (media_id * 7) % 64 + 1
        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + ihdr + b"\x00" * 4)
    if k == 1:
        w, h = media_id % 64 + 5, media_id % 32 + 2
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    w, h = (media_id * 3) % 64 + 1, media_id % 64 + 9
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
            + struct.pack(">HH", h, w) + bytes([3]) + b"\x00" * 9)
    return b"\xff\xd8" + app0 + sof0


def with_synth_image_payload(df: DataFrame, id_col: str = "media_id",
                             out_col: str = "payload") -> DataFrame:
    """+ binary `out_col` built distributed (Arrow-batched pandas UDF) from
    the id via synth_image_payload."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_image_payload(int(i)))

    return df.withColumn(out_col, gen(F.col(id_col)))


def audio_chunk_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    duration_ms_col: str = "duration_ms",
    chunk_ms: int = 30_000,
    overlap_ms: int = 0,
) -> DataFrame:
    """Chunking plan for long audio (the Whisper-style segment scheduler):
    one row per (media item, chunk) with [start_ms, end_ms) boundaries,
    fixed chunk length and optional overlap, last chunk clamped to the
    item's duration.

    n_chunks = 1 if duration <= chunk else ceil((duration - chunk) /
    (chunk - overlap)) + 1 — pure integer arithmetic (ceil via
    (a + b - 1) div b), so the plan is exactly recomputable anywhere.
    The decode/transcribe stage this plan feeds is the mapInPandas
    stage shape of extract_media_features; planning stays JVM-side
    (sequence + explode, zero UDF) and fans out ~duration/step rows per
    item — bounded, known in advance, and partitionable by (id, chunk).
    """
    if chunk_ms <= 0 or not 0 <= overlap_ms < chunk_ms:
        raise ValueError(
            f"need chunk_ms > 0 and 0 <= overlap_ms < chunk_ms; got "
            f"{chunk_ms=}, {overlap_ms=}")
    step = chunk_ms - overlap_ms
    dur = F.col(duration_ms_col).cast("long")
    # ceil via integer `div` (a double quotient rounds past 2^53)
    n_chunks = F.expr(
        f"(greatest(cast({duration_ms_col} as bigint) - {chunk_ms}, 0) "
        f"+ {step - 1}) div {step}") + 1
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    out = df.select(F.col(id_col), dur.alias("_dur"), idx)
    start = F.col("chunk_idx") * F.lit(step)
    end = F.least(start + F.lit(chunk_ms), F.col("_dur"))
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_ms"),
        end.cast("long").alias("end_ms"),
    )


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    duration_ms_col: str = "duration_ms",
    fps_col: str | None = None,
    fps: int = 30,
    every_n: int = 30,
    max_frames: int | None = None,
) -> DataFrame:
    """Frame-sampling plan for video (the CLIP-embed / caption-training
    prep stage): one row per sampled frame with its frame index and
    timestamp, taking every `every_n`-th frame of an `fps` stream,
    optionally capped at `max_frames` per item (uniform head sample —
    the common budget rule for very long videos). `fps_col` overrides
    the constant rate per item when the corpus is mixed-rate.

    All integer arithmetic (total frames = duration_ms * fps div 1000;
    ceil via (a + b - 1) div b; timestamps = frame_idx * 1000 div fps),
    so the plan is exactly recomputable anywhere; planning is sequence +
    explode, zero UDF, fanout = duration * fps / every_n rows per item,
    known in advance. The decode stage this feeds is
    extract_media_features' mapInPandas shape. Returns
    (id, frame_idx, ts_ms, n_sampled).
    """
    if every_n <= 0 or fps <= 0:
        raise ValueError(f"need fps > 0 and every_n > 0; got {fps=}, "
                         f"{every_n=}")
    rate_sql = f"cast({fps_col} as bigint)" if fps_col else str(fps)
    total_sql = f"(cast({duration_ms_col} as bigint) * {rate_sql} div 1000)"
    n_sampled = F.expr(f"({total_sql} + {every_n - 1}) div {every_n}")
    if max_frames is not None:
        n_sampled = F.least(n_sampled, F.lit(max_frames).cast("long"))
    base = df.select(
        F.col(id_col),
        (F.col(fps_col).cast("long") if fps_col
         else F.lit(fps).cast("long")).alias("_fps"),
        n_sampled.alias("_n"),
    ).where(F.col("_n") > 0)
    idx = F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i")
    return base.select(F.col(id_col), idx, "_fps", "_n").select(
        F.col(id_col),
        (F.col("_i") * every_n).cast("long").alias("frame_idx"),
        F.expr(f"_i * {every_n} * 1000 div _fps").cast("long")
        .alias("ts_ms"),
        F.col("_n").cast("long").alias("n_sampled"),
    )
