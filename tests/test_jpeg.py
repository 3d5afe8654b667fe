"""JPEG codec pins: the baseline encoder and decoder at 4:4:4 and 4:2:0,
the spectral-selection and successive-approximation progressive codec,
the first-DC-scan decoder, restart-marked streams, and the errors the
three decoders raise for unsupported or malformed streams. Pure numpy:
no Spark session."""

from __future__ import annotations

import re
import struct

import numpy as np
import pytest

from blow_spark import multimodal as M


# ---------------------------------------------------------------------------
# baseline: closed forms, round trips, gates
# ---------------------------------------------------------------------------


def test_jpeg_flat_block_closed_form():
    """The oracle identity: a flat block of gray v at quality 50 decodes
    to exactly clamp(2*floor((v-127)/2) + 128) — for ALL 256 values,
    exercising DC Huffman categories through the full +-64 range."""
    import math

    import numpy as np

    from blow_spark.multimodal import _decode_jpeg, encode_jpeg_baseline

    img = np.zeros((16, 128), dtype=np.uint8)
    for k in range(32):
        r, c = divmod(k, 16)
        img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = k * 8 + 3
    for vals in (list(range(0, 256, 8)), list(range(255, 0, -16))):
        img = np.zeros((8, 8 * len(vals)), dtype=np.uint8)
        for k, v in enumerate(vals):
            img[:, k * 8 : (k + 1) * 8] = v
        dec = _decode_jpeg(encode_jpeg_baseline(img, quality=50))
        for k, v in enumerate(vals):
            expect = min(max(2 * math.floor((v - 127) / 2) + 128, 0), 255)
            got = dec[:, k * 8 : (k + 1) * 8]
            assert (got == expect).all(), (v, expect, np.unique(got))


def test_jpeg444_flat_block_closed_form():
    """A 64x64 grayscale (4:4:4, one block per MCU) grid of flat 8x8
    blocks decodes to its closed form 2*floor((v-127)/2)+128 per block,
    for values at and around the clamp and DC-category edges."""
    vals = [0, 1, 63, 64, 127, 128, 129, 200, 254, 255] * 7
    img = np.zeros((64, 64), dtype=np.uint8)
    exp = np.zeros_like(img)
    for k in range(64):
        r, c = divmod(k, 8)
        v = vals[k % len(vals)]
        img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = v
        exp[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = min(
            max(2 * ((v - 127) // 2) + 128, 0), 255
        )
    dec = M._decode_jpeg(M.encode_jpeg_baseline(img, 50))
    assert np.array_equal(dec, exp)


def test_jpeg_requality_closed_forms_exhaustive():
    """The dHash oracle's foundation: for EVERY byte value v, a flat
    dithered fixture block decodes to exactly min(v+1,255)-if-odd at
    q50 and to exactly v at q75 (the fixture docstring derives why:
    DC quantizer 16 vs 8 against the DCT's 8x DC gain)."""
    import numpy as np

    from blow_spark.multimodal import decode_image, encode_jpeg_baseline

    for v in range(256):
        img = np.full((64, 64), v, dtype=np.uint8)
        for k in range(64):
            r, c = divmod(k, 8)
            if 0 < v < 255:
                img[r * 8, c * 8] = v + 1
                img[r * 8, c * 8 + 1] = v - 1
        d50 = decode_image(encode_jpeg_baseline(img, quality=50))
        d75 = decode_image(encode_jpeg_baseline(img, quality=75))
        g50 = min(v + 1, 255) if v % 2 == 1 else v
        assert (d50 == g50).all(), (v, np.unique(d50))
        assert (d75 == v).all(), (v, np.unique(d75))


def test_jpeg_roundtrip_tolerance_gray_and_rgb():
    """decode(encode(img)) stays within quantization-error bounds on a
    smooth gradient (any zigzag/scaling/Huffman bug blows this up by
    orders of magnitude), for non-multiple-of-8 dims and RGB 4:4:4."""
    import numpy as np

    from blow_spark.multimodal import _decode_jpeg, encode_jpeg_baseline

    xx, yy = np.meshgrid(np.arange(45), np.arange(30))
    smooth = ((xx * 3 + yy * 2) % 256).astype(np.uint8)
    dec = _decode_jpeg(encode_jpeg_baseline(smooth, quality=90))
    assert dec.shape == smooth.shape
    err = np.abs(dec.astype(int) - smooth.astype(int))
    assert err.mean() < 4.0 and err.max() < 40, (err.mean(), err.max())

    rgb = np.stack([(xx + yy) % 256, xx % 256, yy % 256], axis=-1).astype(np.uint8)
    dec3 = _decode_jpeg(encode_jpeg_baseline(rgb, quality=85))
    assert dec3.shape == rgb.shape
    err3 = np.abs(dec3.astype(int) - rgb.astype(int))
    assert err3.mean() < 4.0 and err3.max() < 40, (err3.mean(), err3.max())


def test_jpeg_subset_gates():
    """Unsupported shapes raise NotImplementedError (truthful gates),
    and garbage raises ValueError."""
    import numpy as np
    import pytest

    from blow_spark.multimodal import _decode_jpeg, encode_jpeg_baseline

    good = encode_jpeg_baseline(np.full((8, 8), 100, dtype=np.uint8))
    # flip SOF0 (0xC0) to SOF2 (0xC2): progressive must be refused
    sof_at = good.find(b"\xff\xc0")
    bad = good[:sof_at] + b"\xff\xc2" + good[sof_at + 2 :]
    with pytest.raises(NotImplementedError):
        _decode_jpeg(bad)
    with pytest.raises(ValueError):
        _decode_jpeg(b"\x00\x01not a jpeg")


def test_jpeg_decode_image_routing():
    """decode_image auto-detects JPEG magic and decodes for real."""
    import numpy as np

    from blow_spark.multimodal import decode_image, encode_jpeg_baseline

    img = np.full((8, 16), 200, dtype=np.uint8)
    out = decode_image(encode_jpeg_baseline(img, quality=50))
    assert out.shape == (8, 16)
    assert (out == min(max(2 * ((200 - 127) // 2) + 128, 0), 255)).all()


# ---------------------------------------------------------------------------
# 4:2:0 chroma subsampling
# ---------------------------------------------------------------------------


def _fixture_tile_expectation(v: int, par: int) -> tuple[int, int, int]:
    """The closed form the DuckDB oracle uses (derivation in
    jpeg420_corpus_fixture_dir's docstring)."""
    vp = 32 + (v % 160)
    y_r = vp + 4 * par
    y_dec = 2 * ((y_r - 127) // 2) + 128
    if par:
        return (y_dec - 3, y_dec - 4, y_dec + 30)
    return (y_dec, y_dec, y_dec)


def test_jpeg420_closed_form_exhaustive():
    """Every (byte value, tile parity) combo decodes to EXACTLY the
    oracle's closed form — 512 combos, 32 full encode/decode cycles.
    This is the proof the multimodal_jpeg_420_decode_stats oracle is
    an exactness gate, not a tolerance check."""
    combos = [(v, par) for v in range(256) for par in (0, 1)]
    mismatched = 0
    for chunk in range(0, 512, 16):
        batch = combos[chunk : chunk + 16]
        img = np.zeros((64, 64, 3), dtype=np.uint8)
        exp = np.zeros_like(img)
        for t, (v, par) in enumerate(batch):
            ty, tx = divmod(t, 4)
            vp = 32 + (v % 160)
            img[ty * 16 : (ty + 1) * 16, tx * 16 : (tx + 1) * 16] = (
                vp,
                vp,
                vp + 34 * par,
            )
            exp[ty * 16 : (ty + 1) * 16, tx * 16 : (tx + 1) * 16] = (
                _fixture_tile_expectation(v, par)
            )
        dec = M._decode_jpeg(M.encode_jpeg_baseline(img, 50, subsampling="420"))
        mismatched += int(
            (dec.astype(int) != exp.astype(int)).any(axis=-1).sum()
        )
    assert mismatched == 0


def test_jpeg420_roundtrip_natural_image():
    """A smooth gradient image survives the full 4:2:0 chain with small
    error (it IS lossy), correct shape at non-MCU-aligned dimensions,
    and a smaller file than 4:4:4 at the same quality — the point of
    subsampling."""
    xx, yy = np.meshgrid(np.arange(75), np.arange(41))
    img = np.stack(
        [
            (60 + xx * 2) % 256,
            (30 + yy * 3) % 256,
            (xx + yy) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    enc420 = M.encode_jpeg_baseline(img, 90, subsampling="420")
    enc444 = M.encode_jpeg_baseline(img, 90, subsampling="444")
    dec = M._decode_jpeg(enc420)
    assert dec.shape == img.shape
    assert float(np.mean(np.abs(dec.astype(int) - img.astype(int)))) < 8.0
    assert len(enc420) < len(enc444)


def test_jpeg420_grayscale_content_matches_444():
    """Gray-valued RGB has constant (128) chroma, so 4:2:0 and 4:4:4
    must decode IDENTICALLY — chroma subsampling only ever touches
    chroma."""
    rng = np.random.default_rng(12)
    g = rng.integers(40, 200, (32, 48), dtype=np.uint8)
    img = np.stack([g, g, g], axis=-1)
    d420 = M._decode_jpeg(M.encode_jpeg_baseline(img, 50, subsampling="420"))
    d444 = M._decode_jpeg(M.encode_jpeg_baseline(img, 50, subsampling="444"))
    assert np.array_equal(d420, d444)


def test_jpeg_gate_narrowed():
    """The NotImplementedError gate now excludes ONLY what is truly
    unimplemented: sampling factors outside 1-2, progressive (SOF2),
    and non-420/444 encoder requests. 4:2:0 itself decodes."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    enc = bytearray(M.encode_jpeg_baseline(img, 50, subsampling="420"))
    # corrupt the luma sampling byte in SOF0 to 3x1 (factor > 2)
    i = enc.index(b"\xff\xc0")
    # SOF0 payload: len(2) prec(1) h(2) w(2) nc(1) then per-comp id,samp,tq
    samp_off = i + 2 + 2 + 1 + 2 + 2 + 1 + 1
    assert enc[samp_off] == 0x22
    enc[samp_off] = 0x31
    with pytest.raises(NotImplementedError, match="sampling factors"):
        M._decode_jpeg(bytes(enc))
    # progressive still gated
    enc2 = bytearray(M.encode_jpeg_baseline(img, 50, subsampling="420"))
    enc2[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="SOF0"):
        M._decode_jpeg(bytes(enc2))
    with pytest.raises(NotImplementedError, match="subsampling"):
        M.encode_jpeg_baseline(img, 50, subsampling="422")


# ---------------------------------------------------------------------------
# progressive: DC-scan decode and full successive approximation
# ---------------------------------------------------------------------------


def test_jpeg_progressive_dc_roundtrip():
    """The progressive codec pair (round-12 verdict item #4): the
    encoder emits genuine SOF2 2-scan streams; the DC-scan-only
    decoder reproduces (a) the baseline decode exactly on flat-block
    fixtures, and (b) the independent quantize-dequantize DC math on
    arbitrary content; the two decoders refuse each other's formats."""
    import numpy as np
    import pytest

    from blow_spark.multimodal import (
        _jpeg_quality_tables,
        decode_image,
        decode_jpeg_progressive_dc,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    raw = bytes(rng.randint(0, 256, 64, dtype=np.uint8))
    img = np.zeros((64, 64), dtype=np.uint8)
    for k, v in enumerate(raw):
        r, c = divmod(k, 8)
        img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = v
        if 0 < v < 255:
            img[r * 8, c * 8] = v + 1
            img[r * 8, c * 8 + 1] = v - 1
    prog = encode_jpeg_progressive(img, quality=50)
    assert prog[:2] == b"\xff\xd8" and b"\xff\xc2" in prog  # really SOF2
    assert prog.count(b"\xff\xda") >= 2  # really multi-scan
    assert (
        decode_jpeg_progressive_dc(prog)
        == decode_image(encode_jpeg_baseline(img, quality=50))
    ).all()

    img2 = rng.randint(0, 256, (40, 56), dtype=np.uint8)
    dc = decode_jpeg_progressive_dc(encode_jpeg_progressive(img2, quality=50))
    ql, _ = _jpeg_quality_tables(50)
    q00 = int(ql[0, 0])
    for by in range(5):
        for bx in range(7):
            blk = img2[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(float)
            qdc = int(np.floor(round(blk.sum() / 8 - 1024, 8) / q00 + 0.5))
            val = int(np.clip(np.round(qdc * q00 / 8.0 + 128.0), 0, 255))
            assert (dc[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == val).all()

    # RGB 4:4:4 progressive decodes to the right shape
    img3 = rng.randint(0, 256, (32, 48, 3), dtype=np.uint8)
    assert decode_jpeg_progressive_dc(
        encode_jpeg_progressive(img3, quality=75)
    ).shape == (32, 48, 3)

    with pytest.raises(ValueError):
        decode_jpeg_progressive_dc(encode_jpeg_baseline(img2))
    with pytest.raises(NotImplementedError):
        decode_image(prog)


def _roundtrip_images():
    rng = np.random.default_rng(1404)
    yield rng.integers(0, 256, (64, 64), dtype=np.uint8)  # dense noise
    yield rng.integers(0, 256, (48, 56, 3), dtype=np.uint8)  # RGB, ragged
    yield np.tile(np.arange(64, dtype=np.uint8), (64, 1))  # smooth ramp
    flat = np.full((40, 40), 200, np.uint8)  # long EOB runs
    yield flat
    step = np.full((64, 64), 128, np.uint8)
    step[32:, :] += 40
    step[:, 32:] -= 30
    yield step


def test_sa_progressive_decode_matches_baseline_exactly():
    """The headline codec gate: a successive-approximation progressive
    encoding of an image decodes (decode_jpeg_progressive) to EXACTLY
    the pixels of the baseline encoding's decode — same FDCT/quant
    pipeline, so identical coefficients must reconstruct identically
    through the completely different entropy path (EOBn runs, ZRL over
    zero-history, correction bits)."""
    for i, img in enumerate(_roundtrip_images()):
        for q in (35, 50, 75):
            prog = M.encode_jpeg_progressive(img, quality=q, successive=True)
            base = M.encode_jpeg_baseline(img, quality=q, subsampling="444")
            got = M.decode_jpeg_progressive(prog)
            want = M.decode_image(base)
            assert np.array_equal(got, want), f"image {i} q={q}"


def test_sa_scan_script_census():
    """The SA script is the libjpeg shape: 6 scans for grayscale
    (DC first Al=1, two AC-first bands Al=1, DC refine Ah=1, two
    AC-refine bands), 14 for RGB 4:4:4, with the split bands (1-5,
    6-63) realized in the SOS headers the decoder saw."""
    img = np.random.default_rng(7).integers(0, 256, (64, 64), dtype=np.uint8)
    st: dict = {}
    M.decode_jpeg_progressive(
        M.encode_jpeg_progressive(img, quality=50, successive=True), stats=st
    )
    assert len(st["scans"]) == 6
    assert st["scans"][0] == (0, 0, 0, 1)  # DC first at Al=1
    assert (1, 5, 0, 1) in st["scans"] and (6, 63, 0, 1) in st["scans"]
    assert (0, 0, 1, 0) in st["scans"]  # DC refinement
    assert (1, 5, 1, 0) in st["scans"] and (6, 63, 1, 0) in st["scans"]
    rgb = np.random.default_rng(8).integers(0, 256, (24, 24, 3), dtype=np.uint8)
    st2: dict = {}
    M.decode_jpeg_progressive(
        M.encode_jpeg_progressive(rgb, quality=50, successive=True), stats=st2
    )
    assert len(st2["scans"]) == 14  # 1 DC + 3*2 AC first + 1 + 3*2 refine


def test_sa_fixture_blocks_force_every_decoder_path():
    """The crafted fixture blocks quantize to EXACTLY one coefficient
    at the last zigzag position — q=2 (correction bit 0), q=3
    (correction bit 1), q=1 (newly significant only in the refinement
    scan) — so every fixture file forces ZRL runs in both scan kinds,
    EOB runs > 1, and both correction-bit parities. This is the
    rounding-noise-below-half-quantizer claim in jpeg_sa_fixture_block's
    docstring, checked against the encoder's own pipeline."""
    ql, _ = M._jpeg_quality_tables(50)
    for k, want in ((61, 2), (62, 3), (63, 1)):
        blk = M.jpeg_sa_fixture_block(k, 123)
        f = M._JM @ (blk - 128.0) @ M._JM.T
        qf = np.floor(np.round(f, 8) / ql + 0.5).astype(int)
        nz = {(r, c): int(qf[r, c]) for r in range(8) for c in range(8) if qf[r, c]}
        assert nz == {(7, 7): want}, f"block {k}: {nz}"
    # end-to-end: a real fixture image exercises all four path counters
    img = M.jpeg_sa_fixture_image(b"The quick brown fox jumps over the lazy dog, twice over again..")
    st: dict = {}
    got = M.decode_jpeg_progressive(
        M.encode_jpeg_progressive(img, quality=50, successive=True), stats=st
    )
    want = M.decode_image(M.encode_jpeg_baseline(img, quality=50))
    assert np.array_equal(got, want)
    assert st["used_eobrun"] > 0
    assert st["used_zrl"] > 0
    assert st["used_newsig_refine"] > 0
    assert st["corr_bits"] > 0


def test_sa_stream_is_genuinely_progressive_and_backward_compatible():
    """The SA stream is a real SOF2 multi-scan file: decode_image
    refuses it (truthful baseline-only gate), decode_jpeg_progressive_dc
    reads just its first scan (coarse Al=1 DC preview), and the FULL
    decoder also accepts the round-13 2-scan spectral-only stream."""
    img = np.random.default_rng(9).integers(0, 256, (64, 64), dtype=np.uint8)
    sa = M.encode_jpeg_progressive(img, quality=50, successive=True)
    with pytest.raises(NotImplementedError):
        M.decode_image(sa)
    dc = M.decode_jpeg_progressive_dc(sa)
    assert dc.shape == (64, 64)
    two_scan = M.encode_jpeg_progressive(img, quality=50)
    base = M.decode_image(M.encode_jpeg_baseline(img, quality=50))
    assert np.array_equal(M.decode_jpeg_progressive(two_scan), base)


def test_prog_ac_huffman_table_is_spec_valid():
    """The flat-8 custom AC table: 176 symbols (every EOBn 0-14, ZRL,
    all (run,size<=10)), all 8 bits, Kraft sum < 1 (prefix-free), and
    the all-ones padding code is NOT a symbol (so 1-padding at scan end
    can never decode as data)."""
    bits, vals = M._JH_AC_PROG
    assert sum(bits) == len(vals) == 176
    assert bits[7] == 176 and sum(b for i, b in enumerate(bits) if i != 7) == 0
    enc = M._huff_canonical(bits, vals)
    assert all(ln == 8 for _, ln in enc.values())
    assert (0xFF, 8) not in {(c, l) for c, l in enc.values()}
    for r in range(15):
        assert (r << 4) in enc  # EOBn categories
    assert 0xF0 in enc


# ---------------------------------------------------------------------------
# restart markers and malformed streams, across the three decoders
# ---------------------------------------------------------------------------

_DECODERS = {
    "baseline": M._decode_jpeg,
    "progressive": M.decode_jpeg_progressive,
    "progressive_dc": M.decode_jpeg_progressive_dc,
}


_ECS_END = re.compile(rb"\xff[^\x00\xd0-\xd7]")  # the first marker other than RSTn


def _segments(stream: bytes) -> list[tuple[int, bytes, bytes]]:
    """(marker, payload, entropy-coded bytes after it) per segment of a
    stream written by this package's encoders — a marker walk of its
    own, independent of the decoders'."""
    out, pos = [], 2
    while stream[pos + 1] != 0xD9:
        marker, (ln,) = stream[pos + 1], struct.unpack(">H", stream[pos + 2 : pos + 4])
        pos += 2 + ln
        end = _ECS_END.search(stream, pos).start() if marker == 0xDA else pos
        out.append((marker, stream[pos - ln + 2 : pos], stream[pos:end]))
        pos = end
    return out


def _assemble(segments) -> bytes:
    return (
        b"\xff\xd8"
        + b"".join(struct.pack(">BBH", 0xFF, m, len(p) + 2) + p + ent for m, p, ent in segments)
        + b"\xff\xd9"
    )


def _with_restarts(img: np.ndarray, encode) -> bytes:
    """Encode each 8-row strip of a grayscale image on its own and
    splice the strips into one stream of the whole image: per scan, the
    strips' entropy-coded bytes joined by RST0..RST7 in turn, and a DRI
    of one MCU row (ceil(w/8) blocks) before the first scan. Each
    strip's scan starts from zero DC predictors and no pending EOB run
    and ends byte-aligned, which is exactly a restart interval."""
    h, w = img.shape
    strips = [_segments(encode(img[y : y + 8])) for y in range(0, h, 8)]
    out = []
    for i, (marker, payload, _) in enumerate(strips[0]):
        ent = b""
        if marker in (0xC0, 0xC2):  # the frame is the whole image
            payload = payload[:1] + struct.pack(">H", h) + payload[3:]
        if marker == 0xDA:
            if not any(m == 0xDD for m, _, _ in out):
                out.append((0xDD, struct.pack(">H", -(-w // 8)), b""))
            ent = strips[0][i][2]
            for k, strip in enumerate(strips[1:]):
                ent += bytes([0xFF, 0xD0 + k % 8]) + strip[i][2]
        out.append((marker, payload, ent))
    return _assemble(out)


@pytest.mark.parametrize("script", ["baseline", "spectral", "successive"])
def test_restart_marked_streams_decode_like_unmarked(script):
    """A restart-marked stream (DRI of one MCU row, RSTn between rows)
    decodes to exactly the array of the unmarked stream of the same
    image, in every decoder that accepts it: the restart path resets
    the bit reader, the DC predictors and the EOB run."""
    rng = np.random.default_rng(1012)
    xx, yy = np.meshgrid(np.arange(37), np.arange(44))  # 6 strips, the last 4 rows
    img = np.clip(xx * 5 + yy * 3 + rng.integers(-30, 30, xx.shape), 0, 255).astype(np.uint8)
    encode = {
        "baseline": lambda a: M.encode_jpeg_baseline(a, 50),
        "spectral": lambda a: M.encode_jpeg_progressive(a, 50),
        "successive": lambda a: M.encode_jpeg_progressive(a, 50, successive=True),
    }[script]
    plain, marked = encode(img), _with_restarts(img, encode)
    segs = _segments(marked)
    assert (0xDD, struct.pack(">H", 5), b"") in segs
    for marker, _, ent in segs:
        if marker == 0xDA:
            assert len(re.findall(rb"\xff[\xd0-\xd7]", ent)) == 5
    names = ["baseline"] if script == "baseline" else ["progressive", "progressive_dc"]
    for name in names:
        assert np.array_equal(_DECODERS[name](marked), _DECODERS[name](plain)), name


def _edit(stream: bytes, marker: int, payload=lambda p: p, to: int | None = None) -> bytes:
    """``stream`` with its first ``marker`` segment's payload mapped
    through ``payload`` and the marker renamed to ``to``."""
    segs = _segments(stream)
    i = next(k for k, s in enumerate(segs) if s[0] == marker)
    segs[i] = (to or marker, payload(segs[i][1]), segs[i][2])
    return _assemble(segs)


def _malformed_streams() -> dict[str, bytes]:
    rgb = np.random.default_rng(77).integers(0, 256, (32, 48, 3), dtype=np.uint8)
    base = M.encode_jpeg_baseline(rgb, 50)
    prog = M.encode_jpeg_progressive(rgb, 50, successive=True)
    out = {
        "baseline scan of one component on an RGB frame": _edit(
            base, 0xDA, lambda p: bytes([1, p[1], p[2]]) + p[-3:]
        ),
        "truncated SOF": _edit(base, 0xC0, lambda p: p[:4]),
        "SOF9 (arithmetic)": _edit(base, 0xC0, to=0xC9),
        "SOF1 (extended sequential)": _edit(base, 0xC0, to=0xC1),
        "not JPEG": b"GIF89a" + bytes(64),
        "Se past 63": _edit(base, 0xDA, lambda p: p[:-2] + b"\x40\x00"),
        "component named twice in a scan": _edit(base, 0xDA, lambda p: p[:3] + p[1:3] + p[5:]),
        "DC Huffman symbol past 15": _edit(base, 0xC4, lambda p: p[:17] + b"\x20" + p[18:]),
    }
    for kind, s in (("baseline", base), ("progressive", prog)):
        out[f"{kind}: unknown component id"] = _edit(s, 0xDA, lambda p: p[:1] + b"\x09" + p[2:])
        out[f"{kind}: table selector with no DHT"] = _edit(
            s, 0xDA, lambda p: p[:2] + b"\x33" + p[3:]
        )
        out[f"{kind}: half stream"] = s[: len(s) // 2]
    return out


@pytest.mark.parametrize("name", list(_DECODERS))
def test_malformed_streams_raise_value_or_not_implemented(name):
    """Every decoder meets an unsupported or malformed stream with
    NotImplementedError or ValueError — never an IndexError, KeyError,
    StopIteration or struct.error from deep inside, and never an image."""
    wrong = {}
    for case, stream in _malformed_streams().items():
        try:
            _DECODERS[name](stream)
            wrong[case] = "decoded"
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 — the test's whole point
            wrong[case] = type(e).__name__
    assert not wrong, wrong
