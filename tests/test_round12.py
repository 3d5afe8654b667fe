"""Round-12 pins: the large-star/small-star connected components
upgrade (round-11 verdict item #5), QOI and Adam7 PNG. The 4:2:0 JPEG
pins live in tests/test_jpeg.py."""

from __future__ import annotations

import numpy as np
import pytest

from blow_spark import multimodal as M


def test_cc_large_small_star_long_chain(spark):
    """A 400-node PATH (diameter 399) must converge under the default
    max_iter=25 on the distributed path — impossible for plain
    O(diameter) label propagation, the property the large-star/
    small-star upgrade buys (Kiveris et al. SoCC 2014: O(log² n)
    rounds regardless of diameter)."""
    from pyspark.sql import functions as F

    from blow_spark import dedup

    pairs = spark.range(399).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    comp = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(
            pairs, local_edge_cutoff=0
        ).collect()
    }
    assert len(comp) == 400
    assert set(comp.values()) == {0}


def test_cc_star_forest_many_components_with_selfloops(spark):
    """Mixed shape through the distributed path: several components,
    duplicate and reversed edges, and self-loop-only nodes (which never
    enter the star loop but must still be labeled)."""
    from blow_spark import dedup

    pairs = spark.createDataFrame(
        [
            (5, 3), (3, 5), (3, 1),          # comp {1,3,5}
            (8, 9), (9, 8),                  # comp {8,9}
            (7, 7),                          # self-loop-only node
            (20, 12), (12, 14), (14, 20),    # cycle comp {12,14,20}
        ],
        ["id_a", "id_b"],
    )
    comp = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(
            pairs, local_edge_cutoff=0
        ).collect()
    }
    assert comp == {1: 1, 3: 1, 5: 1, 8: 8, 9: 8, 7: 7, 12: 12, 14: 12, 20: 12}


# --------------------------------------------------------------------------
# QOI codec (round 12)
# --------------------------------------------------------------------------


def test_qoi_hand_verified_spec_bytes():
    """Byte-for-byte against the one-page spec, computed by hand:
    (255,0,0) from the (0,0,0,255) start state is a DIFF with dr=-1
    (wrap) -> 0b01_01_10_10 = 0x5A; two repeats -> RUN(2) = 0xC1;
    back to (0,0,0) is DIFF dr=+1 (wrap) -> 0x7A. A large jump is an
    RGB literal."""
    img = np.array([[[255, 0, 0], [255, 0, 0], [255, 0, 0], [0, 0, 0]]], dtype=np.uint8)
    enc = M.encode_qoi(img)
    assert enc[:4] == b"qoif"
    assert enc[14:-8] == bytes([0x5A, 0xC1, 0x7A])
    assert enc[-8:] == b"\x00" * 7 + b"\x01"
    assert np.array_equal(M.decode_qoi(enc), img)
    enc2 = M.encode_qoi(np.array([[[10, 200, 30]]], dtype=np.uint8))
    assert enc2[14:-8] == bytes([0xFE, 10, 200, 30])


def test_qoi_roundtrip_rgb_rgba_random():
    rng = np.random.default_rng(3)
    for nc in (3, 4):
        for shape in ((1, 1), (7, 13), (64, 64)):
            img = rng.integers(0, 256, (*shape, nc), dtype=np.uint8)
            img[: shape[0] // 2, : shape[1] // 2] = 77
            dec = M.decode_qoi(M.encode_qoi(img))
            assert dec.shape == img.shape and np.array_equal(dec, img)


def test_qoi_fixture_exercises_all_rgb_ops():
    """The fixture pattern must hit RUN, DIFF, LUMA, RGB, and INDEX —
    INDEX guaranteed because the 4 palette colors occupy DISTINCT
    running-index hash slots (asserted here, so a palette edit that
    silently collides is caught)."""
    slots = [
        (r * 3 + g * 5 + b * 7 + 255 * 11) % 64
        for (r, g, b) in M.QOI_FIXTURE_PALETTE
    ]
    assert len(set(slots)) == 4
    img = np.zeros((64, 64, 3), dtype=np.uint8)
    for r in range(64):
        for c in range(64):
            img[r, c] = M.qoi_fixture_pixel(r, c, (r * 41) % 256)
    enc = M.encode_qoi(img)
    ops = {"RGB": 0, "RGBA": 0, "INDEX": 0, "DIFF": 0, "LUMA": 0, "RUN": 0}
    p = 14
    while p < len(enc) - 8:
        b = enc[p]
        if b == 0xFE:
            ops["RGB"] += 1
            p += 4
        elif b == 0xFF:
            ops["RGBA"] += 1
            p += 5
        elif b >> 6 == 0:
            ops["INDEX"] += 1
            p += 1
        elif b >> 6 == 1:
            ops["DIFF"] += 1
            p += 1
        elif b >> 6 == 2:
            ops["LUMA"] += 1
            p += 2
        else:
            ops["RUN"] += 1
            p += 1
    assert ops["RUN"] > 0 and ops["DIFF"] > 0 and ops["LUMA"] > 0
    assert ops["RGB"] > 0 and ops["INDEX"] > 0
    assert np.array_equal(M.decode_qoi(enc), img)


def test_qoi_alpha_change_uses_rgba_op():
    img = np.array([[[5, 5, 5, 255], [5, 5, 5, 128], [5, 5, 5, 128]]], dtype=np.uint8)
    enc = M.encode_qoi(img)
    assert 0xFF in enc[14:-8]  # RGBA literal for the alpha change
    assert np.array_equal(M.decode_qoi(enc), img)


def test_qoi_malformed_streams_raise():
    with pytest.raises(ValueError, match="not a QOI"):
        M.decode_qoi(b"nope" + b"\0" * 20)
    good = M.encode_qoi(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="end marker"):
        M.decode_qoi(good[:-1] + b"\x02")
    # a run longer than the pixel budget
    import struct
    bad = b"qoif" + struct.pack(">IIBB", 2, 1, 3, 0) + bytes([0xC0 | 61]) + b"\x00" * 7 + b"\x01"
    with pytest.raises(ValueError, match="run overflows"):
        M.decode_qoi(bad)


# --------------------------------------------------------------------------
# Adam7 interlaced PNG (round 12)
# --------------------------------------------------------------------------


def test_png_adam7_roundtrip_all_shapes():
    """Interlaced encode -> decode is identity across channel counts and
    sizes with EMPTY passes (any dimension < 5 skips passes entirely),
    and matches the sequential decode of the same image."""
    rng = np.random.default_rng(5)
    for ch in (None, 3, 4):
        for shape in ((1, 1), (2, 3), (7, 5), (33, 17), (64, 64)):
            img = rng.integers(
                0, 256, (shape if ch is None else (*shape, ch)), dtype=np.uint8
            )
            dec = M._decode_png(M.encode_png(img, interlace=True))
            assert dec.shape == img.shape and np.array_equal(dec, img)
            assert np.array_equal(M._decode_png(M.encode_png(img)), img)


def test_png_adam7_stream_is_actually_interlaced():
    """The interlaced stream must differ from the sequential one (same
    pixels, different scanline order) and declare interlace=1 in IHDR."""
    img = np.arange(64 * 64 * 3, dtype=np.uint8).reshape(64, 64, 3)
    seq = M.encode_png(img)
    adam = M.encode_png(img, interlace=True)
    assert adam != seq
    ihdr_off = adam.index(b"IHDR") + 4
    assert adam[ihdr_off + 12] == 1 and seq[seq.index(b"IHDR") + 4 + 12] == 0
    assert np.array_equal(M._decode_png(adam), M._decode_png(seq))


def test_png_invalid_interlace_still_gated():
    img = np.zeros((8, 8), dtype=np.uint8)
    enc = bytearray(M.encode_png(img))
    enc[enc.index(b"IHDR") + 4 + 12] = 2
    with pytest.raises(NotImplementedError, match="interlace=2"):
        M._decode_png(bytes(enc))
