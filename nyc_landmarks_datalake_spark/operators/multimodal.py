"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

SURVEY §2.B "LLM-pipeline ops" / task-spec multimodal requirement. The
container has no image/audio libraries; decode exists at three levels:

- ``decode_netpbm`` — REAL decode for binary netpbm (P6 ppm / P5 pgm),
  a pure header-plus-raw-bytes format needing only numpy: header
  tokenizer with comment handling, raster reshape, strict validation.
  Exercised end-to-end and oracle-checked by q_image_decode_stats;
- ``decode_png`` — REAL decode for non-interlaced 8-bit PNG: stdlib
  zlib inflate + numpy unfiltering of all five scanline filters, CRC-
  verified chunk walk. Oracle-checked by q_png_decode_stats;
- ``decode_gif`` — REAL decode for non-interlaced GIF87a/89a: block
  walk, sub-block reassembly, from-scratch LZW decompressor
  (dictionary growth, early code-width bump, KwKwK), palette
  expansion. Oracle-checked by q_gif_decode_stats;
- ``decode_wav`` — REAL decode for RIFF/WAVE PCM audio (8/16-bit):
  chunk walk with pad-byte handling, numpy frame reshape. Oracle-
  checked by q_wav_decode_stats;
- baseline JPEG decode lives in ``operators/jpeg.py`` (marker walk,
  canonical Huffman, dequant, vectorized IDCT, YCbCr). Oracle-checked
  by q_jpeg_decode_stats via integer-exact flat-block construction;
- ``decode_image`` routes netpbm/PNG/GIF/JPEG payloads to the real
  decoders; only genuinely unknown formats hit the PIL import-try seam;
- ``extract_features`` computes a deterministic md5-derived feature
  vector from the raw bytes — a fake featurizer with 100% real Spark
  plumbing: binary column in, Arrow batch iteration, ``array<float>``
  (+ scalar) columns out. Because it is md5-derived it is also
  oracle-checkable in DuckDB, so the pandas-UDF path itself is under
  the correctness gate (q_multimodal_features).

Scale design: payloads stay opaque bytes in parquet; metadata lives in
sibling scalar columns so planning-time pruning (kind/width filters)
never touches payload bytes; mapInPandas streams Arrow batches with
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounding memory —
the pattern holds at 100 TB because no stage materializes more than a
batch per task, and feature extraction is embarrassingly parallel
(zero shuffle).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table, table

FEATURE_DIM = 8


def synthesize_media(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic fake media table (no media libs in the container):
    payload bytes derive from md5 chains over the id."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(
            F.concat_ws(
                "", *[F.md5(F.concat(F.lit(str(i)), F.col("id"))) for i in range(4)]
            ),
            "UTF-8",
        ).alias("payload"),
        F.struct(
            ((F.col("id") % 16 + 1) * 64).cast("int").alias("width"),
            ((F.col("id") % 9 + 1) * 64).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            ((F.col("id") % 30 + 1) * 10).cast("int").alias("n_frames"),
            F.element_at(
                F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("format"),
        ).alias("meta"),
    )


def _md5_features(payload: bytes) -> list[float]:
    """Deterministic fake featurizer: consecutive md5 hex byte-pairs,
    scaled to [0, 1]. Stands in for a real encoder; bit-reproducible in
    any engine (the DuckDB oracle recomputes it in SQL)."""
    digest = hashlib.md5(payload).hexdigest()
    return [int(digest[2 * j : 2 * j + 2], 16) / 255.0 for j in range(FEATURE_DIM)]


def extract_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """binary payload → float feature vector via Arrow-batched mapInPandas."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("features", T.ArrayType(T.DoubleType())),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": [ _md5_features(bytes(p)) for p in payloads ],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=out_schema)


def decode_netpbm(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL image decode for binary netpbm (P6 = RGB ppm, P5 = gray
    pgm) — a pure header-plus-raw-bytes format that needs no imaging
    library, only numpy. Returns (width, height, channels, pixels)
    with pixels shaped (height, width, channels), dtype uint8.

    Full format handling: whitespace-separated header tokens, ``#``
    comments anywhere in the header, single whitespace byte after
    maxval before the raster, maxval <= 255 enforced (16-bit rasters
    rejected rather than silently misread)."""
    import numpy as np

    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: magic={payload[:2]!r}")
    channels = 3 if payload[:2] == b"P6" else 1
    # header tokenizer: skip comments, collect 3 ints after the magic.
    # A '#' terminates a token too ('255#c' lexes as '255' + comment),
    # and every token must be a non-empty digit run — truncated headers
    # fail with a descriptive error, not a bare int() ValueError.
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i >= len(payload):
            raise ValueError("truncated/invalid netpbm header")
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while (
            i < len(payload)
            and not payload[i : i + 1].isspace()
            and payload[i : i + 1] != b"#"
        ):
            i += 1
        tok = payload[start:i]
        if not tok.isdigit():
            raise ValueError(f"truncated/invalid netpbm header token {tok!r}")
        tokens.append(tok)
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"16-bit netpbm unsupported (maxval={maxval})")
    if payload[i : i + 1] == b"#":  # comment abutting maxval: runs to newline
        while i < len(payload) and payload[i : i + 1] != b"\n":
            i += 1
    i += 1  # exactly one whitespace byte separates maxval from raster
    n = width * height * channels
    raster = payload[i : i + n]
    if len(raster) != n:
        raise ValueError(f"short raster: want {n} bytes, have {len(raster)}")
    pixels = np.frombuffer(raster, dtype=np.uint8).reshape(height, width, channels)
    return width, height, channels, pixels


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → samples per pixel IN THE RASTER (palette rasters
#: carry 1-byte indices; they expand to 3 RGB channels post-lookup)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL image decode for non-interlaced 8-bit PNG — pure stdlib
    ``zlib`` + numpy, no imaging library. Returns (width, height,
    channels, pixels) with pixels shaped (height, width, channels),
    dtype uint8, matching :func:`decode_netpbm`'s contract.

    Handles the full non-interlaced 8-bit core of the format: chunk
    walk with CRC32 verification, IDAT concatenation (the stream may be
    split across chunks), zlib inflate, and per-scanline unfiltering of
    all five filter types (None/Sub/Up/Average/Paeth). Color types
    gray(0), RGB(2), palette(3, expanded to RGB via PLTE), gray+alpha
    (4) and RGBA(6) are supported; 16-bit and Adam7-interlaced images
    raise descriptive errors rather than silently misdecoding.

    Unfilter cost note: None/Sub/Up rows reconstruct vectorized (Sub via
    per-lane cumsum mod 256 — exact in integer arithmetic); Average and
    Paeth are inherently sequential in x (each pixel needs the
    *reconstructed* left neighbor) and run as Python loops per row.
    This whole function is already the designated Python path (Arrow-
    batched ``mapInPandas``), so the loop bounds are one scanline, never
    a dataset dimension."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG payload: magic={payload[:8]!r}")
    width = height = None
    color_type = None
    palette = None
    idat = bytearray()
    i = 8
    while i + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if comp != 0 or filt != 0:
                raise ValueError("invalid PNG IHDR compression/filter method")
            if interlace != 0:
                raise ValueError("Adam7-interlaced PNG unsupported")
            if bit_depth != 8:
                raise ValueError(f"only 8-bit PNG supported (bit_depth={bit_depth})")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"PNG color type {color_type} unsupported")
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR chunk")
    if not idat:
        raise ValueError("PNG missing IDAT data")
    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"PNG raster size mismatch: want {(stride + 1) * height}, "
            f"have {len(raw)}"
        )
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    bpp = channels  # bytes per pixel at bit depth 8
    out = np.zeros((height, stride), dtype=np.int64)
    zero = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ftype = int(arr[y, 0])
        row = arr[y, 1:].astype(np.int64)
        prev = out[y - 1] if y > 0 else zero
        if ftype == 0:  # None
            rec = row
        elif ftype == 1:  # Sub: per-lane prefix sum mod 256 (exact)
            rec = row
            for k in range(bpp):
                rec[k::bpp] = np.cumsum(rec[k::bpp]) % 256
        elif ftype == 2:  # Up
            rec = (row + prev) % 256
        elif ftype == 3:  # Average — sequential: needs reconstructed left
            rec = row
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) % 256
        elif ftype == 4:  # Paeth — sequential: needs reconstructed left
            rec = row
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        out[y] = rec
    pixels = out.astype(np.uint8).reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE chunk")
        idx = pixels[:, :, 0]
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("PNG palette index outside PLTE")
        pixels = palette[idx]
        channels = 3
    return width, height, channels, pixels


def encode_png(pixels: "object", filters: list[int] | None = None) -> bytes:
    """Minimal PNG encoder (test/fixture builder for the decode path):
    8-bit gray/gray-alpha/RGB/RGBA from a (height, width, channels)
    uint8 array, non-interlaced, one zlib stream. ``filters`` picks the
    per-row filter type (default all 0) so tests can exercise every
    unfilter branch; this is NOT an optimizing encoder."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    height, width, channels = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    flat = px.reshape(height, width * channels).astype(np.int64)
    if filters is None:
        filters = [0] * height
    if len(filters) != height:
        raise ValueError(f"need {height} filter types, got {len(filters)}")
    scanlines = bytearray()
    zero = np.zeros(width * channels, dtype=np.int64)
    for y, ftype in enumerate(filters):
        row = flat[y]
        prev = flat[y - 1] if y > 0 else zero
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
        if ftype == 0:
            filt = row
        elif ftype == 1:
            filt = (row - left) % 256
        elif ftype == 2:
            filt = (row - prev) % 256
        elif ftype == 3:
            filt = (row - ((left + prev) >> 1)) % 256
        elif ftype == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = (row - pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        scanlines.append(ftype)
        scanlines += filt.astype(np.uint8).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + chunk(b"IEND", b"")
    )


def _lzw_decode(min_code_size: int, data: bytes, max_out: int) -> bytes:
    """GIF-variant LZW decompression (LSB-first bit packing, dynamic
    code width 3..12 bits, clear/end control codes). ``max_out`` bounds
    output so a corrupt stream cannot balloon memory."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = dict(base)
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"LZW stream starts with non-literal {code}")
            entry = table[code]  # first code after clear must be literal
        elif code in table:
            entry = table[code]
        elif code == next_code:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code} (next={next_code})")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
        # the decoder's table is ONE entry behind the encoder's (no add
        # on the first code after clear), so the width bump fires one
        # slot early to stay in sync with encoder-side numbering
        if next_code == (1 << code_size) - 1 and code_size < 12:
            code_size += 1
        out += entry
        if len(out) > max_out:
            raise ValueError("LZW output exceeds raster size")
        prev = entry
    return bytes(out)


def _gif_walk(payload: bytes) -> tuple[int, int, Iterator]:
    """The container walk of a non-interlaced GIF87a/89a that both GIF
    decoders share: checks the header and reads the global color table
    eagerly, then returns ``(screen_w, screen_h, images)``, where
    ``images`` lazily yields ``(left, top, rgb)`` per image descriptor:
    the descriptor's own (h, w, 3) uint8 rect, its sub-blocks
    reassembled, LZW-decompressed (:func:`_lzw_decode`) and expanded
    through the local or global color table. Extensions are skipped.
    Interlaced images, rects outside the logical screen and truncated
    or malformed streams raise ``ValueError``."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"not a GIF payload: magic={payload[:6]!r}")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if len(payload) - i < 3 * n:
            raise ValueError("truncated GIF global color table")
        gct = np.frombuffer(payload[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
        i += 3 * n

    def images(i: int) -> Iterator:
        while i < len(payload):
            block = payload[i]
            i += 1
            if block == 0x21:  # extension: label + sub-blocks
                i += 1
                while i < len(payload) and payload[i]:
                    i += payload[i] + 1
                i += 1
            elif block == 0x2C:  # image descriptor
                if len(payload) - i < 9:
                    raise ValueError("truncated GIF image descriptor")
                left, top, w, h, ipacked = struct.unpack(
                    "<HHHHB", payload[i : i + 9]
                )
                i += 9
                if ipacked & 0x40:
                    raise ValueError("interlaced GIF unsupported")
                if left + w > sw or top + h > sh:
                    raise ValueError(
                        f"GIF frame rect {w}x{h}+{left}+{top} exceeds "
                        f"{sw}x{sh} logical screen"
                    )
                ct = gct
                if ipacked & 0x80:
                    n = 2 << (ipacked & 0x07)
                    if len(payload) - i < 3 * n:
                        raise ValueError("truncated GIF local color table")
                    ct = np.frombuffer(
                        payload[i : i + 3 * n], dtype=np.uint8
                    ).reshape(n, 3)
                    i += 3 * n
                if ct is None:
                    raise ValueError("GIF image has no color table")
                if i >= len(payload):
                    raise ValueError("truncated GIF image data")
                min_code_size = payload[i]
                i += 1
                lzw = bytearray()
                while i < len(payload) and payload[i]:
                    size = payload[i]
                    lzw += payload[i + 1 : i + 1 + size]
                    i += size + 1
                i += 1
                idx = _lzw_decode(min_code_size, bytes(lzw), w * h)
                if len(idx) < w * h:
                    raise ValueError(
                        f"short GIF raster: want {w * h} pixels, have {len(idx)}"
                    )
                indices = np.frombuffer(idx[: w * h], dtype=np.uint8)
                if int(indices.max(initial=0)) >= ct.shape[0]:
                    raise ValueError("GIF pixel index outside color table")
                yield left, top, ct[indices].reshape(h, w, 3)
            elif block == 0x3B:  # trailer
                return
            else:
                raise ValueError(f"unknown GIF block 0x{block:02x}")

    return sw, sh, images(i)


def decode_gif(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL image decode for non-interlaced GIF87a/89a (first frame):
    the first image descriptor's own rect from :func:`_gif_walk` —
    pure stdlib + numpy, matching the netpbm/PNG decoders' (width,
    height, channels, pixels) contract with palette indices expanded
    to RGB. Interlaced images and truncated streams raise descriptive
    errors."""
    _sw, _sh, images = _gif_walk(payload)
    for _left, _top, pixels in images:
        h, w = pixels.shape[:2]
        return w, h, 3, pixels
    raise ValueError("GIF contains no image data")


def encode_gif(indices: "object", palette: "object") -> bytes:
    """Minimal GIF89a encoder (fixture builder for the decode path):
    (height, width) uint8 palette indices + (n, 3) palette → single
    non-interlaced frame covering the logical screen, written by
    :func:`encode_gif_animated`."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    return encode_gif_animated((w, h), [(idx, 0, 0)], palette)


def decode_gif_frames(payload: bytes) -> tuple[int, int, int, list]:
    """REAL multi-frame GIF decode: every image descriptor in the
    stream, composited onto the logical screen in order.

    Returns ``(screen_w, screen_h, 3, frames)`` where each frame is the
    full (screen_h, screen_w, 3) uint8 SCREEN after pasting that
    descriptor's (possibly sub-rect) raster at its (left, top) — i.e.
    "do not dispose" animation semantics, the composition a frame-
    sampling pipeline actually wants. Background starts black;
    graphics-control extensions (delays/transparency/disposal modes
    2-3) are skipped like every other extension — deliberately out of
    scope, documented here rather than half-implemented. Shares
    :func:`_gif_walk` with the single-frame :func:`decode_gif`
    (which returns the first descriptor's own rect, not the screen).
    """
    import numpy as np

    sw, sh, images = _gif_walk(payload)
    screen = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list = []
    for left, top, pixels in images:
        h, w = pixels.shape[:2]
        screen[top : top + h, left : left + w] = pixels
        frames.append(screen.copy())
    if not frames:
        raise ValueError("GIF contains no image data")
    return sw, sh, 3, frames


def encode_gif_animated(
    screen_wh: tuple[int, int],
    frames: list,
    palette: "object",
) -> bytes:
    """Animated-GIF fixture builder: one image descriptor per frame,
    each ``(indices, left, top)`` pasted at its offset on the logical
    screen (``indices`` a (h, w) uint8 array), and a shared global
    color table. The LZW stream emits a clear code before every pixel
    code, so the dictionary never grows and every code is
    min_code_size+1 bits — maximally simple, fully spec-conformant."""
    import struct

    import numpy as np

    sw, sh = screen_wh
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.shape[0] > 256:
        # bits-1 would overflow the 3-bit color-table-size field in the
        # packed header byte and the table paste would raise an obscure
        # broadcast error — fail the contract explicitly instead.
        raise ValueError(f"GIF palette holds at most 256 entries, got {pal.shape[0]}")
    bits = max(2, int(pal.shape[0] - 1).bit_length())
    n = 1 << bits
    table = np.zeros((n, 3), dtype=np.uint8)
    table[: pal.shape[0]] = pal
    clear, end = n, n + 1
    code_size = bits + 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    for indices, left, top in frames:
        idx = np.asarray(indices, dtype=np.uint8)
        h, w = idx.shape
        if left + w > sw or top + h > sh:
            raise ValueError(
                f"frame rect {w}x{h}+{left}+{top} exceeds screen {sw}x{sh}"
            )
        # pack [clear, p0, clear, p1, ..., end] LSB-first
        acc = 0
        acc_bits = 0
        stream = bytearray()
        codes: list[int] = []
        for p in idx.reshape(-1):
            codes += [clear, int(p)]
        codes.append(end)
        for c in codes:
            acc |= c << acc_bits
            acc_bits += code_size
            while acc_bits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                acc_bits -= 8
        if acc_bits:
            stream.append(acc & 0xFF)
        out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
        out.append(bits)
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def decode_wav(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL audio decode for RIFF/WAVE PCM — like netpbm, a pure
    header-plus-raw-bytes format needing only stdlib struct + numpy.
    Returns (sample_rate, channels, n_frames, samples) with samples
    shaped (n_frames, channels), dtype int16 (PCM16) or uint8 (PCM8).

    Full chunk walk (fmt /data plus skip-over for LIST/fact/cue
    chunks, including the spec's odd-size pad byte), PCM format code 1
    only — compressed codecs raise rather than misread."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload: magic={payload[:4]!r}/{payload[8:12]!r}"
        )
    fmt = None
    data = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # odd-size chunks carry a pad byte
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt /data chunk")
    audio_format, channels, sample_rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"non-PCM WAV unsupported (format code {audio_format})")
    if bits not in (8, 16):
        raise ValueError(f"only 8/16-bit PCM supported (bits={bits})")
    if channels < 1 or block_align != channels * bits // 8:
        raise ValueError(
            f"invalid WAV layout: channels={channels} block_align={block_align}"
        )
    dtype = np.dtype("<i2") if bits == 16 else np.uint8
    if len(data) % block_align:
        raise ValueError(
            f"WAV data not frame-aligned: {len(data)} % {block_align} != 0"
        )
    samples = np.frombuffer(data, dtype=dtype).reshape(-1, channels)
    return sample_rate, channels, samples.shape[0], samples


def encode_wav(
    samples: "object", sample_rate: int = 16000
) -> bytes:
    """Minimal PCM16 WAV encoder (fixture builder for the decode path):
    (n_frames, channels) int16 array → canonical RIFF/fmt /data file."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, channels = arr.shape
    raw = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * channels * 2,
        channels * 2, 16,
    )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_audio(df: DataFrame, *, id_col: str = "media_id") -> DataFrame:
    """Audio decode over a binary column via Arrow-batched mapInPandas:
    REAL for RIFF/WAVE PCM (:func:`decode_wav`); other codecs would sit
    behind the same real-library seam as compressed images. Emits
    stream geometry plus integer per-channel sample sums and absolute
    sums (the mean/energy ingredients a curation stage consumes) — all
    integer-exact, so the whole Python path sits under the oracle gate
    (q_wav_decode_stats). Zero shuffle; one Arrow batch per task."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("ch0_sum", T.LongType()),
            T.StructField("ch0_abs_sum", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf["payload"]):
                rate, ch, n, samples = decode_wav(bytes(payload))
                s64 = samples[:, 0].astype("int64")
                rows.append(
                    (pid, rate, ch, n, int(s64.sum()), int(abs(s64).sum()))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)


def _decode_any(payload: bytes) -> tuple[int, int, int, "object"]:
    """(width, height, channels, pixels) of one image payload, routed by
    its magic bytes to the netpbm, PNG, GIF or JPEG decoder. Any other
    format is the real-library seam: it needs Pillow, which is not a
    dependency, and raises ``NotImplementedError``."""
    if payload[:2] in (b"P5", b"P6"):
        return decode_netpbm(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xFF\xD8":
        from nyc_landmarks_datalake_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "decode of formats beyond netpbm/PNG/GIF/JPEG/WAV "
            "requires Pillow, which is not installed"
        ) from e
    raise NotImplementedError("PIL wiring lands with the library")


def _image_stats(df: DataFrame, id_col: str, fn) -> DataFrame:
    """Per payload, ``fn(*decoded)`` → (width, height, channels, pixels)
    emitted as (id, width, height, channels, ch0..2 sums): integer
    per-channel sums, 0 for channels the image lacks. Arrow-batched
    mapInPandas, zero shuffle, one Arrow batch per task in flight."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("ch0_sum", T.LongType()),
            T.StructField("ch1_sum", T.LongType()),
            T.StructField("ch2_sum", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, c, px = fn(*_decode_any(bytes(payload)))
                sums = px.reshape(-1, c).sum(axis=0, dtype="int64")
                rows.append(
                    (pid, w, h, c, int(sums[0]),
                     int(sums[1]) if c > 1 else 0,
                     int(sums[2]) if c > 2 else 0)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)


def decode_image(df: DataFrame, *, id_col: str = "media_id") -> DataFrame:
    """Image decode over a binary column via Arrow-batched mapInPandas:
    REAL for binary netpbm payloads (:func:`decode_netpbm` — pure
    numpy), non-interlaced 8-bit PNG (:func:`decode_png` — stdlib zlib
    + numpy unfiltering), GIF and baseline JPEG; PIL-gated for the
    remaining compressed formats (Pillow is not a dependency; the seam
    stays explicit). Reads the ``payload`` column; ``id_col`` is
    keyword-only so a positional name can never silently bind as it.
    Emits per-image dimensions and integer per-channel sums —
    the stats a downstream dedup/quality stage actually consumes, and
    integer-exact so the whole Python path sits under the oracle gate
    (q_image_decode_stats). Zero shuffle: decode is embarrassingly
    parallel, one Arrow batch per task in flight."""
    return _image_stats(df, id_col, lambda w, h, c, px: (w, h, c, px))


def resize_image(
    df: DataFrame,
    target_w: int,
    target_h: int,
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """REAL pixel resize (nearest-neighbor) over decodable payloads via
    Arrow-batched mapInPandas: decode (same format routing as
    :func:`decode_image`), index-map
    src pixel (ty*h div th, tx*w div tw) per target pixel, emit target
    dims + integer channel sums of the RESIZED image. Nearest-neighbor
    is pure integer index arithmetic, so the DuckDB oracle can
    recompute expected sums without any image machinery
    (q_image_resize_stats). Zero shuffle; embarrassingly parallel."""
    import numpy as np

    def nearest(w: int, h: int, c: int, px: "object") -> tuple:
        ys = (np.arange(target_h, dtype=np.int64) * h) // target_h
        xs = (np.arange(target_w, dtype=np.int64) * w) // target_w
        return target_w, target_h, c, px[np.ix_(ys, xs)]

    return _image_stats(df, id_col, nearest)


def frame_sample(df: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: explodes frame indexes 0, 10, 20, ...
    from metadata without touching payload bytes (planning stays
    metadata-only; the per-frame decode would join back by media_id)."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.col("meta.n_frames") - 1,
                    F.lit(10),
                )
            ).alias("frame_idx"),
        )
    )


def resize_plan(df: DataFrame) -> DataFrame:
    """Resize as metadata transform (aspect-preserving target dims, longest
    side at most 256); payload re-encode is the stubbed decoder's job."""
    scale = F.least(
        F.lit(1.0),
        F.lit(256)
        / F.greatest(F.col("meta.width"), F.col("meta.height")).cast("double"),
    )
    return df.select(
        "media_id",
        "kind",
        (F.col("meta.width") * scale).cast("int").alias("target_width"),
        (F.col("meta.height") * scale).cast("int").alias("target_height"),
    )


# ---------------------------------------------------------------------------
# Oracle-checked multimodal pipeline: text → binary payload → Arrow-
# batched featurizer → scalar feature columns. This puts the actual
# mapInPandas machinery under the DuckDB correctness gate.
# ---------------------------------------------------------------------------
_FEATURE_COLS_SQL = ", ".join(
    f"(('0x' || substr(md5(text), {2 * j + 1}, 2))::BIGINT / 255.0) AS f{j}"
    for j in range(FEATURE_DIM)
)


@query(
    "q_multimodal_features",
    sql=f"""
    SELECT doc_id,
           {_FEATURE_COLS_SQL},
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = extract_features(docs, "doc_id", "payload")
    return feats.select(
        "doc_id",
        *[F.element_at(F.col("features"), j + 1).alias(f"f{j}") for j in range(FEATURE_DIM)],
        "n_bytes",
    )


# ---------------------------------------------------------------------------
# Driver-checked twins of the metadata-only media plans. The media
# table synthesizes deterministically from range(N) (kind/meta are pure
# id arithmetic), so the DuckDB oracle reproduces it from range() and
# the frame-sampling / resize logic lands under the correctness gate —
# payload bytes stay untouched in both engines (the plans are the
# point: at 100 TB you never deserialize payloads to plan work).
# ---------------------------------------------------------------------------
_MEDIA_N = 100


@query(
    "q_media_frame_plan",
    sql=f"""
    WITH media AS (
        SELECT range AS media_id,
               ['image', 'audio', 'video'][CAST(range % 3 + 1 AS INT)] AS kind,
               (range % 30 + 1) * 10 AS n_frames
        FROM range({_MEDIA_N})
    )
    SELECT media_id,
           COUNT(*) AS n_sampled,
           CAST(MIN(frame_idx) AS BIGINT) AS first_idx,
           CAST(MAX(frame_idx) AS BIGINT) AS last_idx
    FROM (
        SELECT media_id, unnest(range(0, n_frames, 10)) AS frame_idx
        FROM media WHERE kind = 'video'
    )
    GROUP BY 1
    """,
)
def q_media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(spark, _MEDIA_N)
    return (
        frame_sample(media)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("frame_idx").cast("long").alias("first_idx"),
            F.max("frame_idx").cast("long").alias("last_idx"),
        )
    )


@query(
    "q_media_resize_plan",
    sql=f"""
    WITH media AS (
        SELECT range AS media_id,
               ['image', 'audio', 'video'][CAST(range % 3 + 1 AS INT)] AS kind,
               (range % 16 + 1) * 64 AS width,
               (range % 9 + 1) * 64 AS height
        FROM range({_MEDIA_N})
    )
    SELECT media_id, kind,
           CAST(trunc(width * least(1.0, 256.0 / greatest(width, height)))
                AS INT) AS target_width,
           CAST(trunc(height * least(1.0, 256.0 / greatest(width, height)))
                AS INT) AS target_height
    FROM media
    """,
)
def q_media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_plan(synthesize_media(spark, _MEDIA_N))


# ---------------------------------------------------------------------------
# Oracle-checked REAL decode: build a genuine binary P6 ppm per document
# (4x4 RGB, raster = 48 bytes from three chained md5 digests), push it
# through decode_netpbm inside mapInPandas, and emit integer pixel
# stats. DuckDB never decodes — it recomputes the expected channel sums
# directly from the md5 hex — so a header-parsing or reshape bug in the
# decoder shows up as a value mismatch, not just a test failure.
# ---------------------------------------------------------------------------
_PPM_W, _PPM_H = 4, 4


def _ppm_oracle_channel_sum(c: int) -> str:
    byte = (
        f"('0x' || substr(h48, 2 * (3 * j + {c}) + 1, 2))::BIGINT"
    )
    return (
        f"CAST(list_sum(list_transform(range(0, {_PPM_W * _PPM_H}), "
        f"j -> {byte})) AS BIGINT)"
    )


@query(
    "q_image_decode_stats",
    sql=f"""
    SELECT doc_id,
           {_PPM_W} AS width, {_PPM_H} AS height, 3 AS channels,
           {_ppm_oracle_channel_sum(0)} AS ch0_sum,
           {_ppm_oracle_channel_sum(1)} AS ch1_sum,
           {_ppm_oracle_channel_sum(2)} AS ch2_sum
    FROM (
        SELECT doc_id,
               md5(text) || md5(text || 'a') || md5(text || 'b') AS h48
        FROM documents
    )
    """,
)
def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    raster_hex = F.concat(
        F.md5(F.col("text")),
        F.md5(F.concat(F.col("text"), F.lit("a"))),
        F.md5(F.concat(F.col("text"), F.lit("b"))),
    )
    header = F.lit(f"P6\n{_PPM_W} {_PPM_H}\n255\n".encode())
    images = docs.select(
        "doc_id", F.concat(header, F.unhex(raster_hex)).alias("payload")
    )
    return decode_image(images, id_col="doc_id")


# ---------------------------------------------------------------------------
# Oracle-checked REAL WAV decode: a genuine mono PCM16 RIFF/WAVE file
# per document — fixed 44-byte header (JVM literal) + 40 samples whose
# raw little-endian bytes are five chained md5 digests, so the payload
# is built entirely with Spark built-ins (concat + unhex; no Python
# encode stage). decode_wav parses it inside mapInPandas; DuckDB never
# touches WAV — it recomputes the signed-int16 sums from the hex.
# ---------------------------------------------------------------------------
_WAV_N = 40  # mono PCM16 frames → 80 raw bytes = 5 md5 digests


def _wav_header(n_frames: int) -> bytes:
    """Header of a mono 16 kHz PCM16 file of ``n_frames`` frames."""
    import struct

    raw_len = n_frames * 2
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 16000 * 2, 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", raw_len)
    )
    return b"RIFF" + struct.pack("<I", len(chunks) + raw_len) + chunks


_WAV_SAMPLE_SQL = (
    "list_transform(range(0, {n}), j -> CASE WHEN "
    "('0x' || substr(h80, 4*j+3, 2))::BIGINT >= 128 "
    "THEN ('0x' || substr(h80, 4*j+1, 2))::BIGINT "
    "   + 256 * ('0x' || substr(h80, 4*j+3, 2))::BIGINT - 65536 "
    "ELSE ('0x' || substr(h80, 4*j+1, 2))::BIGINT "
    "   + 256 * ('0x' || substr(h80, 4*j+3, 2))::BIGINT END)"
).format(n=_WAV_N)


@query(
    "q_wav_decode_stats",
    sql=f"""
    SELECT doc_id,
           16000 AS sample_rate, 1 AS channels,
           CAST({_WAV_N} AS BIGINT) AS n_frames,
           CAST(list_sum(samples) AS BIGINT) AS ch0_sum,
           CAST(list_sum(list_transform(samples, s -> abs(s))) AS BIGINT)
               AS ch0_abs_sum
    FROM (
        SELECT doc_id, {_WAV_SAMPLE_SQL} AS samples
        FROM (
            SELECT doc_id,
                   md5(text) || md5(text || 'a') || md5(text || 'b')
                             || md5(text || 'c') || md5(text || 'd') AS h80
            FROM documents
        )
    )
    """,
)
def q_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    raster_hex = F.concat(
        F.md5(F.col("text")),
        *[F.md5(F.concat(F.col("text"), F.lit(s))) for s in "abcd"],
    )
    header = F.lit(_wav_header(_WAV_N))
    waves = docs.select(
        "doc_id", F.concat(header, F.unhex(raster_hex)).alias("payload")
    )
    return decode_audio(waves, id_col="doc_id")


# ---------------------------------------------------------------------------
# Oracle-checked REAL resize: an 8x6 P6 per document (144-byte raster =
# nine chained md5 digests exactly), nearest-neighbor-resized to 4x3
# inside mapInPandas. NN resize is pure integer index arithmetic —
# resized(ty,tx) = src(ty*h div th, tx*w div tw) — so DuckDB recomputes
# the resized channel sums directly from the hex: a wrong stride,
# transposed axis, or off-by-one in the index map is a value mismatch.
# ---------------------------------------------------------------------------
_RSZ_W, _RSZ_H = 8, 6  # source dims; target is 4x3


def _resize_oracle_channel_sum(c: int) -> str:
    src = (
        f"(2 * (j // 4) * {_RSZ_W} + 2 * (j % 4)) * 3 + {c}"
    )  # j = ty*4+tx over the 4x3 target; src pixel = (2ty, 2tx)
    byte = f"('0x' || substr(h144, 2 * ({src}) + 1, 2))::BIGINT"
    return (
        f"CAST(list_sum(list_transform(range(0, 12), j -> {byte})) AS BIGINT)"
    )


@query(
    "q_image_resize_stats",
    sql=f"""
    SELECT doc_id,
           4 AS width, 3 AS height, 3 AS channels,
           {_resize_oracle_channel_sum(0)} AS ch0_sum,
           {_resize_oracle_channel_sum(1)} AS ch1_sum,
           {_resize_oracle_channel_sum(2)} AS ch2_sum
    FROM (
        SELECT doc_id,
               md5(text) || md5(text || 'a') || md5(text || 'b')
                         || md5(text || 'c') || md5(text || 'd')
                         || md5(text || 'e') || md5(text || 'f')
                         || md5(text || 'g') || md5(text || 'h') AS h144
        FROM documents
    )
    """,
)
def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    raster_hex = F.concat(
        F.md5(F.col("text")),
        *[F.md5(F.concat(F.col("text"), F.lit(s))) for s in "abcdefgh"],
    )
    header = F.lit(f"P6\n{_RSZ_W} {_RSZ_H}\n255\n".encode())
    images = docs.select(
        "doc_id", F.concat(header, F.unhex(raster_hex)).alias("payload")
    )
    return resize_image(images, 4, 3, id_col="doc_id")


def _encoded(raw: DataFrame, col: str, encode_one) -> DataFrame:
    """(doc_id, payload) fixture images: ``encode_one`` of the bytes in
    ``col`` of each (doc_id, ``col``) row of ``raw``, built inside
    mapInPandas, one Arrow batch per task."""
    enc_schema = T.StructType(
        [
            T.StructField("doc_id", raw.schema["doc_id"].dataType),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode_one(bytes(r)) for r in pdf[col]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return raw.mapInPandas(encode, schema=enc_schema)


def _fixture_palette() -> "object":
    """The GIF fixtures' 256-entry palette: entry i = (i, 2i, 3i) mod 256."""
    import numpy as np

    i = np.arange(256, dtype=np.int64)
    return np.stack([i % 256, (2 * i) % 256, (3 * i) % 256], axis=1).astype(
        np.uint8
    )


# ---------------------------------------------------------------------------
# Oracle-checked REAL JPEG decode: a genuine baseline JPEG per document
# — 16x16 grayscale built from four FLAT 8x8 blocks whose values are
# the first four md5 bytes. Flat blocks quantized with an all-ones
# table have a DC-only spectrum, and IDCT of a DC-only block is exactly
# flat — so the full pipeline (marker walk, Huffman decode incl.
# cross-block DC prediction, dequant, IDCT, level shift) is
# integer-exact and DuckDB recomputes the expected sums from hex
# without modelling the lossy transform. Lossy roundtrips are covered
# by tests with quantization-error bounds (tests/test_multimodal.py).
# ---------------------------------------------------------------------------
@query(
    "q_jpeg_decode_stats",
    sql="""
    SELECT doc_id,
           16 AS width, 16 AS height, 1 AS channels,
           CAST(64 * (('0x' || substr(h, 1, 2))::BIGINT
                    + ('0x' || substr(h, 3, 2))::BIGINT
                    + ('0x' || substr(h, 5, 2))::BIGINT
                    + ('0x' || substr(h, 7, 2))::BIGINT) AS BIGINT) AS ch0_sum,
           CAST(0 AS BIGINT) AS ch1_sum,
           CAST(0 AS BIGINT) AS ch2_sum
    FROM (SELECT doc_id, md5(text) AS h FROM documents)
    """,
)
def q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.jpeg import encode_jpeg

    docs = compute_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", F.unhex(F.md5(F.col("text"))).alias("h16"))

    def four_flat_blocks(b: bytes) -> bytes:
        img = np.zeros((16, 16), dtype=np.uint8)
        img[:8, :8] = b[0]
        img[:8, 8:] = b[1]
        img[8:, :8] = b[2]
        img[8:, 8:] = b[3]
        return encode_jpeg(img)

    return decode_image(_encoded(raw, "h16", four_flat_blocks), id_col="doc_id")


# ---------------------------------------------------------------------------
# Oracle-checked REAL GIF decode: a genuine GIF89a per document — 256-
# entry palette with entry i = (i, 2i mod 256, 3i mod 256), 5x5 indices
# from two chained md5 digests, LZW-compressed (clear-code form) by
# encode_gif. decode_gif walks blocks, reassembles sub-blocks, LZW-
# decompresses and palette-expands inside mapInPandas; DuckDB never
# touches GIF — it recomputes the channel sums from the md5 hex.
# ---------------------------------------------------------------------------
_GIF_W, _GIF_H = 5, 5


def _gif_oracle_channel_sum(mult: int) -> str:
    byte = f"('0x' || substr(h64, 2 * j + 1, 2))::BIGINT"
    return (
        f"CAST(list_sum(list_transform(range(0, {_GIF_W * _GIF_H}), "
        f"j -> ({mult} * {byte}) % 256)) AS BIGINT)"
    )


@query(
    "q_gif_decode_stats",
    sql=f"""
    SELECT doc_id,
           {_GIF_W} AS width, {_GIF_H} AS height, 3 AS channels,
           {_gif_oracle_channel_sum(1)} AS ch0_sum,
           {_gif_oracle_channel_sum(2)} AS ch1_sum,
           {_gif_oracle_channel_sum(3)} AS ch2_sum
    FROM (
        SELECT doc_id, md5(text) || md5(text || 'a') AS h64
        FROM documents
    )
    """,
)
def q_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    docs = compute_table(spark, sf_dir, "documents")
    idx_hex = F.concat(
        F.md5(F.col("text")), F.md5(F.concat(F.col("text"), F.lit("a")))
    )
    raw = docs.select("doc_id", F.unhex(idx_hex).alias("raster"))
    n = _GIF_W * _GIF_H
    pal = _fixture_palette()

    def gif(r: bytes) -> bytes:
        idx = np.frombuffer(r[:n], dtype=np.uint8).reshape(_GIF_H, _GIF_W)
        return encode_gif(idx, pal)

    return decode_image(_encoded(raw, "raster", gif), id_col="doc_id")


# ---------------------------------------------------------------------------
# Oracle-checked REAL animated-GIF decode + frame sampling: a genuine
# multi-frame GIF89a per document (2-8 full-screen 5x5 frames, raster
# k from two chained md5 digests over text||'f'||k), decoded by
# decode_gif_frames inside mapInPandas, then every-2nd-frame sampled
# (frame_sample semantics applied to REAL decoded frames, not
# metadata) and channel-summed. DuckDB recomputes the sums from the
# md5 hex over the sampled frame indexes — nested list_transform over
# (sampled frame s, pixel j) — so the multi-frame walk, per-frame LZW
# streams, composition order, and the sampling stride are all under
# the value gate. Encode and decode run in ONE mapInPandas pass
# (embarrassingly parallel, zero shuffle — the 100 TB shape).
# ---------------------------------------------------------------------------
_GIFAN_W, _GIFAN_H = 5, 5
GIF_FRAME_EVERY = 2
_GIFAN_MAX_FRAMES = 8  # n_frames = doc_id % 7 + 2 in [2, 8]


def _gifan_oracle_channel_sum(mult: int) -> str:
    h64 = (
        f"md5(text || 'f' || ({GIF_FRAME_EVERY} * s)::VARCHAR) || "
        f"md5(text || 'f' || ({GIF_FRAME_EVERY} * s)::VARCHAR || 'x')"
    )
    byte = f"('0x' || substr({h64}, 2 * j + 1, 2))::BIGINT"
    frame_sum = (
        f"list_sum(list_transform(range(0, {_GIFAN_W * _GIFAN_H}), "
        f"j -> ({mult} * {byte}) % 256))"
    )
    return (
        f"CAST(list_sum(list_transform("
        f"range(0, (doc_id % 7 + 2 + {GIF_FRAME_EVERY} - 1) "
        f"// {GIF_FRAME_EVERY}), s -> {frame_sum})) AS BIGINT)"
    )


@query(
    "q_gif_frame_sample",
    sql=f"""
    SELECT doc_id,
           CAST(doc_id % 7 + 2 AS INT) AS n_frames,
           CAST((doc_id % 7 + 2 + {GIF_FRAME_EVERY} - 1)
                // {GIF_FRAME_EVERY} AS INT) AS n_sampled,
           {_gifan_oracle_channel_sum(1)} AS ch0_sum,
           {_gifan_oracle_channel_sum(2)} AS ch1_sum,
           {_gifan_oracle_channel_sum(3)} AS ch2_sum
    FROM documents
    """,
)
def q_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    docs = compute_table(spark, sf_dir, "documents")
    rasters = F.array(
        *[
            F.unhex(
                F.concat(
                    F.md5(F.concat(F.col("text"), F.lit(f"f{k}"))),
                    F.md5(F.concat(F.col("text"), F.lit(f"f{k}x"))),
                )
            )
            for k in range(_GIFAN_MAX_FRAMES)
        ]
    )
    raw = docs.select(
        "doc_id",
        (F.col("doc_id") % 7 + 2).cast("int").alias("n_frames"),
        rasters.alias("rasters"),
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", raw.schema["doc_id"].dataType),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("n_sampled", T.IntegerType()),
            T.StructField("ch0_sum", T.LongType()),
            T.StructField("ch1_sum", T.LongType()),
            T.StructField("ch2_sum", T.LongType()),
        ]
    )
    npx = _GIFAN_W * _GIFAN_H
    pal = _fixture_palette()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, nf, rs in zip(
                pdf["doc_id"], pdf["n_frames"], pdf["rasters"]
            ):
                frames = [
                    (
                        np.frombuffer(
                            bytes(rs[k])[:npx], dtype=np.uint8
                        ).reshape(_GIFAN_H, _GIFAN_W),
                        0,
                        0,
                    )
                    for k in range(int(nf))
                ]
                payload = encode_gif_animated(
                    (_GIFAN_W, _GIFAN_H), frames, pal
                )
                _w, _h, _c, decoded = decode_gif_frames(payload)
                sampled = decoded[::GIF_FRAME_EVERY]
                sums = np.zeros(3, dtype=np.int64)
                for fr in sampled:
                    sums += fr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                rows.append(
                    (
                        doc_id,
                        len(decoded),
                        len(sampled),
                        int(sums[0]),
                        int(sums[1]),
                        int(sums[2]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return raw.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Oracle-checked REAL PNG decode: build a genuine non-interlaced 8-bit
# RGB PNG per document (5x5, raster = first 75 bytes of five chained
# md5 digests, one scanline per filter type 0..4 so every unfilter
# branch — None/Sub/Up/Average/Paeth — is on the verified path), push
# it through decode_png inside mapInPandas, and emit integer pixel
# stats. DuckDB never touches PNG — it recomputes the expected channel
# sums directly from the md5 hex — so a chunk-walk, inflate, unfilter
# or reshape bug shows up as a value mismatch, not just a test failure.
# ---------------------------------------------------------------------------
_PNG_W, _PNG_H = 5, 5


def _png_oracle_channel_sum(c: int) -> str:
    byte = f"('0x' || substr(h80, 2 * (3 * j + {c}) + 1, 2))::BIGINT"
    return (
        f"CAST(list_sum(list_transform(range(0, {_PNG_W * _PNG_H}), "
        f"j -> {byte})) AS BIGINT)"
    )


@query(
    "q_png_decode_stats",
    sql=f"""
    SELECT doc_id,
           {_PNG_W} AS width, {_PNG_H} AS height, 3 AS channels,
           {_png_oracle_channel_sum(0)} AS ch0_sum,
           {_png_oracle_channel_sum(1)} AS ch1_sum,
           {_png_oracle_channel_sum(2)} AS ch2_sum
    FROM (
        SELECT doc_id,
               md5(text) || md5(text || 'a') || md5(text || 'b')
                         || md5(text || 'c') || md5(text || 'd') AS h80
        FROM documents
    )
    """,
)
def q_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    docs = compute_table(spark, sf_dir, "documents")
    raster_hex = F.concat(
        F.md5(F.col("text")),
        *[F.md5(F.concat(F.col("text"), F.lit(s))) for s in "abcd"],
    )
    raw = docs.select("doc_id", F.unhex(raster_hex).alias("raster"))
    n = _PNG_W * _PNG_H * 3
    filters = list(range(5))  # one scanline per filter type

    def png(r: bytes) -> bytes:
        px = np.frombuffer(r[:n], dtype=np.uint8).reshape(_PNG_H, _PNG_W, 3)
        return encode_png(px, filters=filters)

    return decode_image(_encoded(raw, "raster", png), id_col="doc_id")


# ---------------------------------------------------------------------------
# Perceptual image-hash near-dup — the multimodal leg of the dedup
# tier (the LAION-style pipeline: images that differ by a few pixels
# must collapse even though their bytes differ). Each document gets a
# REAL 8x8 grayscale P5 image (raster = 4 chained md5 digests over the
# doc's GROUP key, doc_id div 4, plus doc_id%4 per-doc perturbed
# pixels, all built with Spark built-ins); an Arrow-batched mapInPandas
# pass DECODES the payload and computes the average-hash: bit b set iff
# pixel b >= the integer mean — the classic aHash, 60 bits so the
# signature is sign-safe BIGINT in both engines and reuses the proven
# simhash layout (4 bands x 15 bits, pigeonhole-exact recall at
# hamming <= 3). Candidates come from the member-capped band buckets,
# verification is pure bit math on the pair.
#
# DuckDB never decodes an image: it recomputes every pixel from the
# same md5 hex + perturbation arithmetic and mirrors the banded join —
# so a decode, mean, bit-pack, banding or hamming bug all surface as
# value mismatches. 100 TB design: signatures are 8 bytes/image and the
# band shuffle never moves pixels; decode is embarrassingly parallel
# (zero shuffle, one Arrow batch per task in flight).
# ---------------------------------------------------------------------------
PHASH_W, PHASH_H = 8, 8
PHASH_BITS = 60
PHASH_GROUP = 4
PHASH_PERTURB = 9


def phash_images(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """binary image payload → 60-bit average-hash via real decode
    inside mapInPandas. Same format routing as decode_image: netpbm,
    PNG, GIF and JPEG decode; any other format raises
    ``NotImplementedError`` (it needs Pillow)."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("phash", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf["payload"]):
                _w, _h, c, px = _decode_any(bytes(payload))
                flat = px.reshape(-1, c).astype(np.int64)
                if c > 1:  # luma fold for color inputs (fixture is gray)
                    flat = flat.sum(axis=1) // c
                else:
                    flat = flat[:, 0]
                mu = int(flat.sum()) // flat.size
                ph = 0
                for b in range(PHASH_BITS):
                    if int(flat[b]) >= mu:
                        ph |= 1 << b
                rows.append((pid, ph))
            yield pd.DataFrame(rows, columns=[id_col, "phash"])

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)


def _phash_fixture(docs: DataFrame) -> DataFrame:
    """doc_id + P5 payload whose 64 raster bytes derive from the GROUP
    key's md5 chain, with the first doc_id%PHASH_GROUP pixels bumped by
    PHASH_PERTURB (capped at 255) — near-identical images within a
    group, built entirely with JVM built-ins."""
    gs = F.expr(f"cast(doc_id div {PHASH_GROUP} as string)")
    h128 = F.concat(
        F.md5(gs),
        F.md5(F.concat(gs, F.lit("a"))),
        F.md5(F.concat(gs, F.lit("b"))),
        F.md5(F.concat(gs, F.lit("c"))),
    )
    r = (F.col("doc_id") % PHASH_GROUP).cast("int")

    def _pix(j):
        b = F.conv(F.substring(F.col("h128"), j * 2 + 1, 2), 16, 10).cast(
            "long"
        )
        return F.when(
            j < r, F.least(b + PHASH_PERTURB, F.lit(255).cast("long"))
        ).otherwise(b)

    pix = F.transform(
        F.sequence(F.lit(0), F.lit(PHASH_W * PHASH_H - 1)), _pix
    )
    raster_hex = F.concat_ws(
        "", F.transform(pix, lambda v: F.lpad(F.hex(v), 2, "0"))
    )
    header = F.lit(f"P5\n{PHASH_W} {PHASH_H}\n255\n".encode())
    return docs.select("doc_id", h128.alias("h128")).select(
        "doc_id", F.concat(header, F.unhex(raster_hex)).alias("payload")
    )


def _phash_pixel_sql(j: str) -> str:
    base = f"('0x' || substr(h128, 2 * ({j}) + 1, 2))::BIGINT"
    return (
        f"CASE WHEN ({j}) < doc_id % {PHASH_GROUP}"
        f" THEN least({base} + {PHASH_PERTURB}, 255) ELSE {base} END"
    )


def _register_phash() -> None:
    from nyc_landmarks_datalake_spark.operators.dedup import (
        banded_hamming_pairs,
        banded_hamming_tail_sql,
    )

    @query(
        "q_image_phash_dedup",
        sql=f"""
        WITH px AS (
            SELECT doc_id,
                   list_transform(range(0, {PHASH_W * PHASH_H}),
                                  j -> {_phash_pixel_sql('j')}) AS pix
            FROM (
                SELECT doc_id,
                       md5(gs) || md5(gs || 'a') || md5(gs || 'b')
                               || md5(gs || 'c') AS h128
                FROM (
                    SELECT doc_id,
                           CAST(doc_id // {PHASH_GROUP} AS VARCHAR) AS gs
                    FROM documents
                )
            )
        ),
        mx AS (
            SELECT doc_id, pix,
                   list_sum(pix) // {PHASH_W * PHASH_H} AS mu
            FROM px
        ),
        sig AS (
            SELECT doc_id,
                   {' + '.join(
                       f"(CASE WHEN pix[{b + 1}] >= mu"
                       f" THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
                       for b in range(PHASH_BITS)
                   )} AS phash
            FROM mx
        ),
        {banded_hamming_tail_sql('phash', 'ib_')}
        """,
    )
    def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the lazy checkpoint keeps GenerateExec from re-running the
        # mapInPandas decode while banding (shared-helper contract)
        docs = compute_table(spark, sf_dir, "documents")
        sig = phash_images(_phash_fixture(docs)).localCheckpoint(eager=False)
        return banded_hamming_pairs(sig, "phash")


_register_phash()
