"""Baseline JPEG codec tests (operators/jpeg.py) + multimodal wiring.

Wire-format compliance is checked BOTH ways against an independent
implementation — the JVM's javax.imageio (already present for Spark):
our encoder's output must decode correctly under ImageIO, and ImageIO's
encoder output must decode correctly under our decoder (which also
exercises 4:2:0 subsampling, which our encoder never emits).
"""

import numpy as np
import pytest

from trainable_entity_extractor_spark.operators.jpeg import (
    JPEG_SIG,
    ZIGZAG,
    jpeg_decode,
    jpeg_encode,
)


def _noise_rgb(h, w, seed=12345):
    idx = np.arange(h * w * 3, dtype=np.int64)
    return ((idx * 2654435761 + seed) % 251).reshape(h, w, 3).astype(np.uint8)


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_gray_flat_roundtrips_exactly():
    flat = np.full((16, 24), 130, dtype=np.uint8)
    dec, meta = jpeg_decode(jpeg_encode(flat, 90))
    assert meta == {"width": 24, "height": 16, "channels": 1, "format": "jpeg"}
    assert dec.shape == (16, 24)
    assert np.abs(dec.astype(int) - 130).max() == 0


def test_gray_gradient_low_error():
    g = np.tile(np.arange(64, dtype=np.uint8) * 4, (32, 1))[:, :48]
    dec, _ = jpeg_decode(jpeg_encode(g, 90))
    assert np.abs(dec.astype(float) - g).mean() < 1.0


def test_color_roundtrip_non_multiple_of_8_dims():
    rgb = _noise_rgb(21, 37)
    dec, meta = jpeg_decode(jpeg_encode(rgb, 95))
    assert meta["width"] == 37 and meta["height"] == 21 and meta["channels"] == 3
    assert dec.shape == (21, 37, 3)
    # noise at q95 keeps mean error in single digits
    assert np.abs(dec.astype(float) - rgb).mean() < 6.0


def test_color_smooth_low_error():
    yy, xx = np.mgrid[0:40, 0:56]
    smooth = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    dec, _ = jpeg_decode(jpeg_encode(smooth, 90))
    assert np.abs(dec.astype(float) - smooth).mean() < 2.0


def test_decode_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg")
    full = jpeg_encode(np.full((8, 8), 10, dtype=np.uint8))
    with pytest.raises(ValueError):
        jpeg_decode(full[:20])  # truncated before SOS


def test_decode_rejects_progressive_sof2():
    full = bytearray(jpeg_encode(np.full((8, 8), 10, dtype=np.uint8)))
    i = full.find(b"\xff\xc0")
    full[i + 1] = 0xC2  # rewrite SOF0 -> SOF2
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(bytes(full))


def test_quality_monotonicity():
    rgb = _noise_rgb(24, 24, seed=99)
    err = {}
    for q in (50, 90):
        dec, _ = jpeg_decode(jpeg_encode(rgb, q))
        err[q] = np.abs(dec.astype(float) - rgb).mean()
    assert err[90] < err[50]


# ------------------- independent-decoder parity (javax.imageio) ----------


def _imageio_decode(spark, payload: bytes) -> np.ndarray:
    """Decode JPEG bytes with the JVM's ImageIO via py4j; returns HxWx3."""
    jvm = spark.sparkContext._jvm
    stream = jvm.java.io.ByteArrayInputStream(bytearray(payload))
    img = jvm.javax.imageio.ImageIO.read(stream)
    assert img is not None, "ImageIO could not parse the stream"
    h, w = img.getHeight(), img.getWidth()
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            argb = img.getRGB(x, y)
            out[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    return out


def _imageio_encode(spark, arr: np.ndarray) -> bytes:
    """Encode HxWx3 with the JVM's ImageIO JPEG writer (independent
    encoder — typically emits 4:2:0, which our own encoder never does)."""
    jvm = spark.sparkContext._jvm
    h, w = arr.shape[:2]
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in arr[y, x])
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    ok = jvm.javax.imageio.ImageIO.write(img, "jpg", baos)
    assert ok, "ImageIO has no JPEG writer"
    return bytes(baos.toByteArray())


def test_our_encoder_decodes_under_imageio(spark):
    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack(
        [(yy * 5) % 256, (xx * 3) % 256, ((yy + xx) * 4) % 256], axis=2
    ).astype(np.uint8)
    payload = jpeg_encode(rgb, 92)
    theirs = _imageio_decode(spark, payload)
    assert theirs.shape == rgb.shape
    assert np.abs(theirs.astype(float) - rgb).mean() < 3.0


def test_imageio_encoder_decodes_under_ours(spark):
    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack(
        [(yy * 5) % 256, (xx * 3) % 256, ((yy + xx) * 4) % 256], axis=2
    ).astype(np.uint8)
    payload = _imageio_encode(spark, rgb)
    assert payload.startswith(JPEG_SIG)
    ours, meta = jpeg_decode(payload)
    assert meta["width"] == 48 and meta["height"] == 32
    # ImageIO writes 4:2:0 at default quality: chroma is quarter-res, so
    # compare against ImageIO's own decode of the same bytes (codec-
    # parity, not lossless-compression) as well as the source
    theirs = _imageio_decode(spark, payload)
    assert np.abs(ours.astype(float) - theirs.astype(float)).mean() < 3.0
    assert np.abs(ours.astype(float) - rgb.astype(float)).mean() < 8.0


# ------------------------- multimodal wiring ------------------------------


def test_multimodal_dispatch_jpeg():
    from trainable_entity_extractor_spark.operators.multimodal import (
        average_phash64,
        decode_image,
        decode_image_array,
    )

    rgb = _noise_rgb(16, 16, seed=5)
    payload = jpeg_encode(rgb, 90)
    meta = decode_image(payload)
    assert meta["format"] == "jpeg" and meta["channels"] == 3
    arr = decode_image_array(payload)
    assert arr.shape == (16, 16, 3)
    # decode is deterministic, so the phash is too
    assert average_phash64(arr) == average_phash64(decode_image_array(payload))


def test_image_phash_mixed_png_jpeg(spark):
    """image_phash buckets near-identical content across WIRE FORMATS: the
    same pixels encoded as PNG (lossless) and JPEG (lossy, q95) should
    produce the same 8x8 average phash — format-crossing dedup that
    byte-level hashing can never catch."""
    from trainable_entity_extractor_spark.operators.multimodal import (
        encode_png,
        image_phash,
    )

    # 8x8-aligned constant blocks with well-separated levels: the DCT of
    # a constant block quantizes exactly, so the q95 JPEG decodes to
    # (near-)identical pixels and the 8x8 average phash cannot flip a
    # bit; high-frequency content would legitimately differ by a few
    # bits across a lossy re-encode
    base = (np.arange(9).reshape(3, 3) * 31) % 256
    pix = np.stack(
        [np.kron((base + 40 * c) % 256, np.ones((8, 8))) for c in range(3)], axis=2
    ).astype(np.uint8)
    rows = [
        ("png/0", bytearray(encode_png(pix))),
        ("jpg/0", bytearray(jpeg_encode(pix, 95))),
        ("bad/0", bytearray(b"\xff\xd8garbage")),
    ]
    assets = spark.createDataFrame(rows, "asset_id string, blob binary")
    out = {r["asset_id"]: r["phash"] for r in image_phash(assets).collect()}
    assert out["png/0"] is not None
    assert out["png/0"] == out["jpg/0"]
    assert out["bad/0"] is None


def test_fill_bytes_before_markers_are_skipped():
    """ITU-T T.81 B.1.1.2: 0xFF fill bytes may pad the space before any
    marker; external baseline JPEGs use this legally (ADVICE r5)."""
    flat = np.full((8, 8), 99, dtype=np.uint8)
    payload = jpeg_encode(flat, 90)
    # inject fill bytes before the first post-SOI marker (DQT at offset 2)
    padded = payload[:2] + b"\xff\xff\xff" + payload[2:]
    dec, meta = jpeg_decode(padded)
    assert meta["width"] == 8 and meta["height"] == 8
    assert np.array_equal(dec, jpeg_decode(payload)[0])


def test_fill_bytes_running_to_the_end_raise():
    """A run of 0xFF fill bytes that reaches the end of the payload has no
    marker after it: a clean ValueError, not a fill byte read as a
    marker with a garbage segment length (ADVICE r6)."""
    payload = jpeg_encode(np.full((8, 8), 99, dtype=np.uint8), 90)
    head = payload[: payload.find(b"\xff\xda")]  # everything before SOS
    for n_fill in (4, 7):
        with pytest.raises(ValueError, match="truncated JPEG marker stream"):
            jpeg_decode(head + b"\xff" * n_fill)


def test_segment_cut_short_raises_value_error():
    """A payload that ends inside a segment raises ValueError, not the
    struct.error of reading the missing bytes."""
    payload = jpeg_encode(np.full((8, 8), 99, dtype=np.uint8), 90)
    sof = payload.find(b"\xff\xc0")
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        jpeg_decode(payload[: sof + 6])
