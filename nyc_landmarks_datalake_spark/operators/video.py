"""REAL video decode: MJPEG-in-AVI container walk + per-frame baseline
JPEG decode, completing the image/audio/video multimodal triad.

The container tier is a from-scratch RIFF AVI parser (the same RIFF
discipline as ``decode_wav``): verify 'RIFF'+'AVI ', walk top-level
chunks with even-padding handling, read the declared frame count and
dimensions from 'avih' inside LIST hdrl, then iterate LIST movi's
'##dc'/'##db' sub-chunks — each an independent baseline JPEG decoded by
``operators/jpeg.py`` (marker walk, canonical Huffman with cross-block
DC prediction, dequant, vectorized IDCT). Frame SAMPLING (every Nth
frame — the training-data shape: a video contributes a handful of
frames, not all of them) happens after the container walk, so the
sampled census is exact with respect to the decoded stream.

Oracle strategy (same as the image tier): fixtures are flat-block
JPEGs whose decode is integer-exact, so DuckDB recomputes every pixel
sum from the md5 hex without touching AVI or JPEG.

Scale: payloads are opaque parquet binary; decode is Arrow-batched
mapInPandas — embarrassingly parallel, zero shuffle, memory bounded by
``arrow.maxRecordsPerBatch`` per task. A 100 TB video corpus decodes
as a pure map stage; only the tiny per-video census rows shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def encode_avi(frames: list[bytes], width: int, height: int) -> bytes:
    """Minimal 10 fps MJPEG AVI: LIST hdrl (avih + strl(strh+strf)) +
    LIST movi of '00dc' JPEG chunks, even-padded per RIFF."""

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    n = len(frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // 10,  # dwMicroSecPerFrame
        0, 0, 0x10,        # maxBytesPerSec, padding, flags (HASINDEX off)
        n, 0, 1, 0,        # totalFrames, initialFrames, streams, bufSize
        width, height,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, 10, 0, n, 0, 0xFFFFFFFF, 0)[:40]
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse an MJPEG AVI: return (declared_frames, width, height,
    frame payloads). Raises ValueError on a malformed container."""
    pb = bytes(payload)
    if pb[:4] != b"RIFF" or pb[8:12] != b"AVI ":
        raise ValueError(
            f"not a RIFF/AVI payload: magic={pb[:4]!r}/{pb[8:12]!r}"
        )
    declared = -1
    width = height = -1
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        nonlocal declared, width, height
        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body = buf[pos + 8 : pos + 8 + size]
            if len(body) < size:
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                list_type = body[:4]
                if list_type in (b"hdrl", b"movi", b"strl", b"rec "):
                    walk(body[4:])
            elif fourcc == b"avih":
                declared, = struct.unpack_from("<I", body, 16)
                width, height = struct.unpack_from("<II", body, 32)
            elif fourcc[2:] in (b"dc", b"db"):
                frames.append(body)
            pos += 8 + size + (size % 2)  # even padding

    walk(pb[12:])
    if declared < 0:
        raise ValueError("AVI has no avih header")
    return declared, width, height, frames


def decode_video(df: DataFrame) -> DataFrame:
    """REAL MJPEG/AVI decode + every-other-frame sampling over the
    ``payload`` column of (doc_id, payload), Arrow-batched. Per video:
    dimensions, frame counts (container vs header cross-checked), the
    pixel sum over ALL decoded frames, and the sum over the SAMPLED
    frames."""
    from nyc_landmarks_datalake_spark.operators.jpeg import decode_jpeg

    out_schema = T.StructType(
        [
            T.StructField("doc_id", df.schema["doc_id"].dataType),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("declared_ok", T.BooleanType()),
            T.StructField("total_sum", T.LongType()),
            T.StructField("sampled_frames", T.LongType()),
            T.StructField("sampled_sum", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["doc_id"], pdf["payload"]):
                declared, w, h, frames = decode_avi(payload)
                total = 0
                sampled = 0
                n_sampled = 0
                fw = fh = None
                for i, fpay in enumerate(frames):
                    dw, dh, _c, px = decode_jpeg(bytes(fpay))
                    fw, fh = dw, dh
                    s = int(np.sum(px, dtype=np.int64))
                    total += s
                    if i % 2 == 0:
                        sampled += s
                        n_sampled += 1
                rows.append(
                    (
                        mid,
                        fw if fw is not None else w,
                        fh if fh is not None else h,
                        len(frames),
                        declared == len(frames),
                        total,
                        n_sampled,
                        sampled,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.mapInPandas(run, schema=out_schema)


def _register() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import compute_table

    VID_F = 3  # frames per fixture video; stride 2 samples frames 0 and 2

    # frame f is a 16x16 grayscale flat-block JPEG from md5 bytes
    # 4f..4f+3 (integer-exact decode: pixel sum = 64 * sum of 4 bytes)
    def _frame_sum_sql(f: int) -> str:
        return " + ".join(
            f"('0x' || substr(h, {8 * f + 2 * j + 1}, 2))::BIGINT"
            for j in range(4)
        )

    total = " + ".join(f"({_frame_sum_sql(f)})" for f in range(VID_F))
    sampled = " + ".join(f"({_frame_sum_sql(f)})" for f in range(0, VID_F, 2))

    @query(
        "q_video_decode_stats",
        sql=f"""
        SELECT doc_id,
               16 AS width, 16 AS height,
               CAST({VID_F} AS BIGINT) AS n_frames,
               TRUE AS declared_ok,
               CAST(64 * ({total}) AS BIGINT) AS total_sum,
               CAST({len(range(0, VID_F, 2))} AS BIGINT) AS sampled_frames,
               CAST(64 * ({sampled}) AS BIGINT) AS sampled_sum
        FROM (SELECT doc_id, md5(text) AS h FROM documents)
        """,
    )
    def q_video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """REAL MJPEG-AVI decode + every-2nd-frame sampling: a genuine
        three-frame AVI per document (RIFF hdrl/movi walk; each frame a
        flat-block baseline JPEG from md5 bytes, integer-exact through
        the full Huffman/IDCT pipeline). DuckDB recomputes all sums
        from the hex without touching AVI or JPEG."""
        from nyc_landmarks_datalake_spark.operators.jpeg import encode_jpeg

        docs = compute_table(spark, sf_dir, "documents")
        raw = docs.select("doc_id", F.unhex(F.md5(F.col("text"))).alias("h16"))
        enc_schema = T.StructType(
            [
                T.StructField("doc_id", raw.schema["doc_id"].dataType),
                T.StructField("payload", T.BinaryType()),
            ]
        )

        def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                payloads = []
                for hbytes in pdf["h16"]:
                    b = bytes(hbytes)
                    frames = []
                    for f in range(VID_F):
                        q = b[4 * f : 4 * f + 4]
                        img = np.zeros((16, 16), dtype=np.uint8)
                        img[:8, :8] = q[0]
                        img[:8, 8:] = q[1]
                        img[8:, :8] = q[2]
                        img[8:, 8:] = q[3]
                        frames.append(encode_jpeg(img))
                    payloads.append(encode_avi(frames, 16, 16))
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "payload": payloads}
                )

        videos = raw.mapInPandas(encode, schema=enc_schema)
        return decode_video(videos)


_register()
