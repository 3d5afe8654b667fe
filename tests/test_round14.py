"""Round-14 pins: the r13-ADVICE exact-readout fixes, the overflow
guards and the pHash perceptual twin. The successive-approximation
progressive JPEG codec pins live in tests/test_jpeg.py. Each test names
what it pins so a regression reads as a reopened item."""

from __future__ import annotations

import numpy as np

from blow_spark import multimodal as M

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# pHash/DCT perceptual twin (r13 verdict item #8's suggested compose)
# ---------------------------------------------------------------------------


def test_phash_matrix_rows_are_zero_sum_adjusted():
    """The brightness-invariance THEOREM rests on every AC row of the
    e6 DCT tensor summing to exactly zero — a constant input shift then
    contributes 0 to every coefficient with u>=1 or v>=1, including
    the (0, v>=1) row via the transposed factor."""
    m = M.phash_dct_matrix_e6()
    assert m.shape == (8, 8)
    for u in range(1, 8):
        assert int(m[u].sum()) == 0, f"row {u} sum {m[u].sum()}"
    # rounding adjustment stays tiny: within 5 µunits of the float DCT
    assert np.abs(m - 1e6 * M._JM).max() <= 5


def _py_phash(grid: list[int], m) -> int:
    """Pure-Python third replication of the pHash pipeline (the dHash
    test's discipline): 8x8 grid -> integer DCT -> median threshold."""
    coefs = []
    for uv in range(1, 64):
        u, v = divmod(uv, 8)
        s = 0
        for k in range(64):
            s += grid[k] * int(m[u][k // 8]) * int(m[v][k % 8])
        coefs.append(s)
    med = sorted(coefs)[31]
    h = 0
    for i, c in enumerate(coefs):
        if c > med:
            h |= 1 << i
    return h


def test_phash_brightness_invariance_and_reencode_closeness():
    """End-to-end on the real codec: the q75 decode of an image and of
    its +6-brightened twin produce IDENTICAL pHashes (the zero-sum
    theorem, no clipping), the q50/q75 re-encode pair lands within
    tau=8 bits, and the pure-Python replication agrees with the
    numpy/matmul production path bit-for-bit."""
    m = M.phash_dct_matrix_e6()
    raw = b"Perceptual DCT hashing certifies what gradients cannot!..."
    raw = raw[:64].ljust(64, b"\0")
    img = np.zeros((64, 64), dtype=np.uint8)
    for k, v in enumerate(raw):
        r, c = divmod(k, 8)
        img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = v
        if 0 < v < 255:
            img[r * 8, c * 8] = v + 1
            img[r * 8, c * 8 + 1] = v - 1
    bright = np.minimum(img.astype(np.int32) + 6, 255).astype(np.uint8)

    def spark_path_hash(jpeg_bytes: bytes) -> int:
        dec = M.decode_image(jpeg_bytes)
        bsum = dec.astype(np.int64).reshape(8, 8, 8, 8).sum(axis=(1, 3))
        d = m @ bsum @ m.T
        coefs = d.reshape(-1)[1:]
        med = int(np.sort(coefs)[31])
        return sum(1 << i for i in range(63) if int(coefs[i]) > med)

    h50 = spark_path_hash(M.encode_jpeg_baseline(img, quality=50))
    h75 = spark_path_hash(M.encode_jpeg_baseline(img, quality=75))
    hb = spark_path_hash(M.encode_jpeg_baseline(bright, quality=75))
    assert hb == h75, "brightness shift changed the hash"
    assert bin(h50 ^ h75).count("1") <= 8, "re-encode pair outside tau"
    # third replication: pure-Python over the closed-form q75 grid
    # (identity decode), scaled by 64 like the block sums
    grid = [64 * v for v in raw]
    assert _py_phash(grid, m) == h75
    # q50 closed form: odd v < 255 rounds up
    g50 = [64 * (v + 1 if v % 2 == 1 and v < 255 else v) for v in raw]
    assert _py_phash(g50, m) == h50


# ---------------------------------------------------------------------------
# r13-ADVICE exact fixed-point readouts
# ---------------------------------------------------------------------------


def test_fx_div_helpers_match_exact_rounding():
    """_fx_div_spark/_fx_div_duck implement round-half-away-from-zero
    of num*scale/den for positive den — pinned against Python rational
    arithmetic across signs, ties, and scales."""
    from fractions import Fraction

    import duckdb

    from blow_spark.queries.mlprims import _fx_div_duck

    def want(num, den, scale):
        x = Fraction(num * scale, den)
        q, r = divmod(abs(x.numerator), x.denominator)
        up = 2 * r >= x.denominator
        mag = q + (1 if up else 0)
        return mag if x >= 0 else -mag

    con = duckdb.connect()
    for num in (-7, -5, -3, -1, 0, 1, 3, 5, 7, 999_999, -1_000_001, 10**18):
        for den in (1, 2, 3, 7, 1000, 10**6):
            for scale in (1, 100, 10**6):
                w = want(num, den, scale)
                if abs(w) >= 2**63:  # helper contract: result fits BIGINT
                    continue
                sql = _fx_div_duck(
                    f"CAST({num} AS HUGEINT)", f"CAST({den} AS HUGEINT)", scale
                )
                got = con.execute(f"SELECT {sql}").fetchone()[0]
                assert got == w, (num, den, scale)


def test_guarded_bigint_outputs_are_varchar_exact(spark):
    """r13 verdict item #3: the two sub-1000x-headroom outputs ship as
    the VARCHAR exact transport — still parseable integers with the
    right magnitudes."""
    from blow_spark.queries import queries

    qs = queries()
    r = qs["stats_mann_whitney_u"](spark, SF).first()
    assert isinstance(r.u_a_x2, str) and int(r.u_a_x2) >= 0
    assert 0 <= int(r.u_a_x2) <= 2 * r.na * r.nb
    rows = qs["drift_psi_by_source"](spark, SF).collect()
    assert rows
    for row in rows:
        assert isinstance(row.psi_num, str)
        int(row.psi_num)  # parses exactly
        assert row.psi_den > 0


# ---------------------------------------------------------------------------
# overflow_audit summary-compare: the accumulation-noise floor
# ---------------------------------------------------------------------------


def _load_overflow_audit():
    import importlib.util
    import pathlib

    p = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "overflow_audit.py"
    spec = importlib.util.spec_from_file_location("overflow_audit", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_summary_compare_accumulation_floor_accepts_order_noise(spark):
    """Pins the round-14 float-SUM floor in summary_compare: a SUM diff
    UNDER the accumulation envelope (n * column_scale * 1e-12) is
    engine-order noise and must pass EVEN WHEN the totals themselves
    exceed the envelope (the partial-cancellation class caught live on
    similarity_cosine_threshold_exact at sf1 — mixed-sign column, small
    but nonzero total, relative test divides noise by it)."""
    import duckdb

    oa = _load_overflow_audit()
    con = duckdb.connect()
    # n=3, scale=1 -> floor = 3e-12; totals 5e-12 vs 7e-12 both EXCEED
    # the floor, their diff 2e-12 sits under it.
    df = spark.createDataFrame([(1.0,), (-1.0,), (5e-12,)], "z double")
    ok, detail = oa.summary_compare(
        df, con, "SELECT z FROM (VALUES (1.0), (-1.0), (7e-12)) t(z)", 60.0
    )
    assert ok, detail


def test_summary_compare_accumulation_floor_still_flags_real_defects(spark):
    """The floor must NOT swallow a value-scale distortion: a SUM off by
    ~0.5 on a unit-scale 3-row column is orders of magnitude above the
    envelope and stays a red."""
    import duckdb

    oa = _load_overflow_audit()
    con = duckdb.connect()
    df = spark.createDataFrame([(1.0,), (-1.0,), (5e-12,)], "z double")
    ok, detail = oa.summary_compare(
        df, con, "SELECT z FROM (VALUES (1.0), (-1.0), (0.5)) t(z)", 60.0
    )
    assert not ok
    assert "sum_z" in detail
