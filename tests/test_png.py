"""The pure-Python PNG codec (functions/png.py) — real pixel decode.

Pins: encode→decode identity under EVERY filter type, CRC tamper
rejection, truncated/invalid streams, the exact-integer
nearest-neighbor index map, and the Spark operators' oracle-facing
stats (q:png_decode / q:png_resize pin the same chain hash-exact at
the driver).
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract.functions.png import (
    PNG_SIG,
    decode_png,
    encode_png,
    png_chunks,
    resize_nearest,
)


def _arr(w, h, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_roundtrip_each_filter_type(ftype):
    a = _arr(9, 5)
    b = encode_png(a, row_filter=lambda y: ftype)
    assert b[:8] == PNG_SIG
    np.testing.assert_array_equal(decode_png(b), a)


def test_roundtrip_mixed_filters_like_fixture():
    a = _arr(8, 6, seed=42)
    np.testing.assert_array_equal(
        decode_png(encode_png(a, row_filter=lambda y: y % 5)), a
    )


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(w, h, seed):
    a = _arr(w, h, seed)
    np.testing.assert_array_equal(
        decode_png(encode_png(a, row_filter=lambda y: (y + w) % 5)), a
    )


def test_crc_tamper_rejected():
    b = bytearray(encode_png(_arr(4, 4)))
    # flip a byte inside the IDAT body (after sig+IHDR chunk)
    idat_at = bytes(b).index(b"IDAT")
    b[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(b))


def test_bad_signature_and_truncation():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    whole = encode_png(_arr(4, 4))
    with pytest.raises(ValueError):
        decode_png(whole[:-7])  # IEND cut off


def test_non_truecolor_rejected():
    # hand-build an IHDR claiming grayscale (color type 0)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    iend_crc = struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
    b = (
        PNG_SIG
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + crc
        + struct.pack(">I", 0) + b"IEND" + iend_crc
    )
    with pytest.raises(ValueError, match="truecolor"):
        decode_png(b)


def test_chunk_walk_yields_tags_in_order():
    tags = [t for t, _ in png_chunks(encode_png(_arr(3, 3)))]
    assert tags == [b"IHDR", b"IDAT", b"IEND"]


def test_resize_nearest_exact_index_map():
    a = _arr(8, 6)
    out = resize_nearest(a, 4, 3)
    assert out.shape == (3, 4, 3)
    for y in range(3):
        for x in range(4):
            np.testing.assert_array_equal(
                out[y, x], a[(y * 6) // 3, (x * 8) // 4]
            )


def test_resize_upscale():
    a = _arr(2, 2)
    out = resize_nearest(a, 5, 4)
    assert out.shape == (4, 5, 3)
    np.testing.assert_array_equal(out[0, 0], a[0, 0])
    np.testing.assert_array_equal(out[3, 4], a[1, 1])


def test_spark_png_stats_and_resize_roundtrip(spark):
    """The Spark chain: synthesized full PNGs decode to the planted
    pixel formulas; the resized payload is itself a valid PNG whose
    pixels equal the exact-index resample of the original."""
    from pyspark.sql import Row

    from webextract.operators.multimodal import (
        pixel_stats,
        resize_media,
        synth_pixel_png,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(20)])
    stats = {
        r.media_id: r for r in pixel_stats(synth_pixel_png(docs)).collect()
    }
    for mid in range(20):
        w, h = mid % 8 + 1, mid % 6 + 1
        x, y = np.arange(w), np.arange(h)
        r = stats[mid]
        assert r.ok and (r.width, r.height, r.n_px) == (w, h, w * h)
        assert r.sum_r == int(np.broadcast_to((mid + x) % 256, (h, w)).sum())
        assert r.sum_g == int(
            np.broadcast_to(((mid + 3 * y) % 256)[:, None], (h, w)).sum()
        )
        assert r.sum_b == int(((x[None, :] * y[:, None]) % 256).sum())
    resized = {
        r.media_id: r
        for r in resize_media(synth_pixel_png(docs), 4, 3).collect()
    }
    for mid in range(20):
        w, h = mid % 8 + 1, mid % 6 + 1
        x, y = np.arange(w), np.arange(h)
        full = np.stack(
            [
                np.broadcast_to((mid + x) % 256, (h, w)),
                np.broadcast_to(((mid + 3 * y) % 256)[:, None], (h, w)),
                (x[None, :] * y[:, None]) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        expect = resize_nearest(full, 4, 3)
        r = resized[mid]
        assert r.ok
        np.testing.assert_array_equal(decode_png(bytes(r.payload)), expect)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(
            int(v) for v in expect.reshape(-1, 3).sum(axis=0)
        )


def test_invalid_payload_yields_ok_false(spark):
    """Undecodable and NULL payloads give one ok=false row each from
    every pixel stage — never a failed task."""
    from webextract.operators.multimodal import (
        MEDIA_SCHEMA,
        gif_frame_stats,
        pixel_stats,
        resize_media,
    )

    media = spark.createDataFrame(
        [
            (0, b"garbage", "image/png"),
            (1, PNG_SIG + b"\x00\x00", "image/png"),
            (2, None, "image/png"),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in pixel_stats(media).collect()}
    assert not rows[0].ok and rows[0].sum_r is None
    assert not rows[1].ok
    assert not rows[2].ok and rows[2].sum_r is None
    resized = resize_media(media, 4, 3).collect()
    assert sorted(r.media_id for r in resized) == [0, 1, 2]
    assert all(not r.ok and r.payload is None for r in resized)
    frames = gif_frame_stats(media).collect()
    assert sorted(r.media_id for r in frames) == [0, 1, 2]
    assert all(not r.ok and r.frame_id is None for r in frames)
