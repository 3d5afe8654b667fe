"""Round-13 pins: the four ADVICE-r12 defects and this round's new
operators. Each test names the defect it pins so a regression reads as
a reopened advice item, not a mystery."""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pytest

from blow_spark import materialize as M
from tests.test_materialize import own_registry  # noqa: F401 (fixture)


def test_reap_age_rule_probes_pid_named_artifacts(own_registry):
    """ADVICE r12 #1: the age-based fallback must not delete a pkg zip
    whose embedded pid is still alive — a >48h session's addPyFile
    artifact is live for as long as its process is."""
    tmp = tempfile.gettempdir()
    ours = os.path.join(tmp, f"blow_spark_pkg_{os.getpid()}_77777.zip")
    dead = os.path.join(tmp, "blow_spark_pkg_4999999_77777.zip")
    for p in (ours, dead):
        with open(p, "w") as fh:
            fh.write("zip-stand-in")
        past = time.time() - 9 * 3600
        os.utime(p, (past, past))
    try:
        M.reap_orphan_scratch(max_age_hours=8)
        assert os.path.exists(ours), "live-pid zip was age-reaped"
        assert not os.path.exists(dead), "dead-pid zip survived the age rule"
    finally:
        for p in (ours, dead):
            if os.path.exists(p):
                os.remove(p)


def test_register_scratch_redrops_overwritten_markers(own_registry):
    """ADVICE r12 #2: df.write.mode('overwrite') into a scratch dir
    deletes and recreates it, losing the owner marker; the next
    register_scratch call must restore markers on marker-less live
    dirs so crashed sessions still get the dead-pid fast reap."""
    d1 = M.scratch_dir(prefix="blow_spark_remark_test_")
    marker = os.path.join(d1, M._OWNER_MARKER)
    # simulate the overwrite: dir recreated without the marker
    os.remove(marker)
    assert not os.path.exists(marker)
    d2 = M.scratch_dir(prefix="blow_spark_remark_test_")
    assert os.path.exists(marker), "lost marker was not re-dropped"
    assert open(marker).read().strip() == str(os.getpid())
    for p in (d1, d2):
        M._remove_path(p)


def test_decode_qoi_truncation_raises_valueerror_everywhere():
    """ADVICE r12 #3: every possible truncation point must raise
    ValueError (the documented contract), never IndexError."""
    from blow_spark.multimodal import decode_qoi, encode_qoi

    img = (np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3) * 7) % 256
    enc = encode_qoi(img)
    assert (decode_qoi(enc) == img).all()
    for cut in range(14, len(enc)):
        with pytest.raises(ValueError):
            decode_qoi(enc[:cut])


def _dhash_reference(raw: bytes) -> tuple[int, int, int, int]:
    """Third, independent (pure-Python) replication of the dHash
    pipeline from the closed-form decodes — validates both the Spark
    UDF (real codec) and the DuckDB oracle (byte arithmetic)."""
    v = list(raw[:64].ljust(64, b"\0"))
    g50 = [min(x + 1, 255) if x % 2 == 1 else x for x in v]
    g75 = v

    def hashes(g):
        hr = sum(
            1 << (r * 7 + c)
            for r in range(8)
            for c in range(7)
            if g[r * 8 + c] > g[r * 8 + c + 1]
        )
        hc = sum(
            1 << (r * 8 + c)
            for r in range(7)
            for c in range(8)
            if g[r * 8 + c] > g[(r + 1) * 8 + c]
        )
        return hr, hc

    return (*hashes(g50), *hashes(g75))


def test_dhash_near_dup_planted_pair_properties(spark, sf_dir):
    """The perceptual-dedup story realized end-to-end: every planted
    q50/q75 re-encode pair is byte-different, pixel-different, and
    found by the banded-Hamming join; cross-source collisions appear
    EXACTLY where the corpus genuinely contains near-duplicate sources
    (the testdata plants text near-dups that share 64-byte prefixes) —
    verified against a pure-Python third replication of the pipeline."""
    import duckdb

    from blow_spark.queries import queries

    p = queries()["multimodal_dhash_near_dup"](spark, sf_dir).toPandas()
    assert len(p) == 50
    assert p["found_by_lsh"].all(), "recall vs planted ground truth < 100%"
    assert not p["bytes_identical"].any(), "re-encode produced identical bytes"
    assert (p["n_diff_blocks"] > 0).all(), "re-encode produced identical pixels"
    assert (p["hamming"] <= 7).all(), "pigeonhole recall bound violated"

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE doc_id < 50 ORDER BY doc_id"
    ).df()
    imgs = []
    for _, row in docs.iterrows():
        hr50, hc50, hr75, hc75 = _dhash_reference(str(row["text"]).encode("utf-8"))
        imgs.append((int(row["doc_id"]), hr50, hc50))
        imgs.append((int(row["doc_id"]), hr75, hc75))

    def bands(hr, hc):
        return [(i, (hr >> (14 * i)) & 16383) for i in range(4)] + [
            (4 + i, (hc >> (14 * i)) & 16383) for i in range(4)
        ]

    expected_cross = sum(
        1
        for i in range(len(imgs))
        for j in range(i + 1, len(imgs))
        if imgs[i][0] != imgs[j][0]
        and set(bands(*imgs[i][1:])) & set(bands(*imgs[j][1:]))
        and bin(imgs[i][1] ^ imgs[j][1]).count("1")
        + bin(imgs[i][2] ^ imgs[j][2]).count("1")
        <= 10
    )
    assert (p["n_cross_dups"] == expected_cross).all(), (
        f"cross-source dup count {p['n_cross_dups'].iloc[0]} != "
        f"independent replication {expected_cross}"
    )


def test_gif_lzw_codec_roundtrip():
    """The GIF codec pair: byte-exact roundtrips across image shapes,
    palette sizes (mcs floor at 2), interlace, LZW width growth, and
    the 4096-entry dictionary reset; truncation before the frame
    completes raises ValueError (a complete frame with only the
    trailer missing still decodes — the frame is all the data)."""
    import numpy as np
    import pytest

    from blow_spark.multimodal import decode_gif, encode_gif, gif_fixture_palette

    rng = np.random.RandomState(5)
    pal = gif_fixture_palette()
    arr_pal = np.array(pal, dtype=np.uint8)
    for trial in range(4):
        h, w = rng.randint(10, 70), rng.randint(10, 70)
        idx = rng.randint(0, 16, (h, w)).astype(np.uint8)
        for inter in (False, True):
            dec = decode_gif(encode_gif(idx, pal, interlace=inter))
            assert (dec == arr_pal[idx]).all(), (trial, inter)
    # long runs push the code width up; 128x128 noise overflows the
    # 4096-entry dictionary and exercises the CLEAR/reset path
    runs = np.repeat(np.arange(16, dtype=np.uint8), 400).reshape(80, 80)
    assert (decode_gif(encode_gif(runs, pal)) == arr_pal[runs]).all()
    noise = rng.randint(0, 16, (128, 128)).astype(np.uint8)
    assert (decode_gif(encode_gif(noise, pal)) == arr_pal[noise]).all()
    for ncol in (4, 2):
        small = rng.randint(0, ncol, (33, 17)).astype(np.uint8)
        assert (decode_gif(encode_gif(small, pal[:ncol])) == arr_pal[small]).all()
    full = encode_gif(rng.randint(0, 16, (20, 20)).astype(np.uint8), pal)
    for cut in range(6, len(full) - 1):
        with pytest.raises(ValueError):
            decode_gif(full[:cut])
    assert decode_gif(full[:-1]).shape == (20, 20, 3)  # trailer-only loss


def _xy2d_reference(order: int, x: int, y: int) -> int:
    """Independent Lam-Shapiro xy2d (Wikipedia's C form, recursive-free)
    — the third replication of the Hilbert index, distinct from both the
    Spark select-chain and the DuckDB CTE chain."""
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_locality_query_pins(spark, sf_dir):
    """Round-13 batch 4: the Hilbert-vs-Morton audit's six numbers are
    mathematical constants of the 128x128 grid — pin them, and pin the
    in-plan fold against the independent pure-Python xy2d reference (a
    THIRD replication, distinct from both the Spark select-chain and
    the DuckDB CTE chain)."""
    import pyspark.sql.functions as F  # noqa: N812

    from blow_spark.queries import queries
    from blow_spark.queries.relational_ext import _HIL_BITS

    p = (
        queries()["layout_hilbert_locality_vs_zorder"](spark, sf_dir)
        .toPandas()
        .set_index("curve")
    )
    n = 1 << _HIL_BITS
    for curve in ("hilbert", "morton"):
        assert p.loc[curve, "n_cells"] == n * n  # bijective
    # Hilbert is a continuous curve; Morton teleports on half its steps
    assert p.loc["hilbert", "unit_steps"] == n * n - 1
    assert p.loc["morton", "unit_steps"] == n * n // 2
    # Morton wins BOTH the mean and the max adjacent jump (the
    # folklore "Hilbert is closer on average" is false) — Hilbert's
    # sole, decisive win is continuity above
    assert p.loc["morton", "mean_jump_e3"] < p.loc["hilbert", "mean_jump_e3"]
    assert p.loc["morton", "max_jump"] < p.loc["hilbert", "max_jump"]
    assert p.loc["morton", "max_jump"] == (n * n + 2) // 3  # diagonal flip

    # third replication: rebuild the query's select-chain fold on a
    # 512-cell sample and compare against the reference xy2d
    base = spark.range(512).select(
        (F.col("id") * 31 % n).alias("x0"),
        (F.col("id") * 17 % n).alias("y0"),
        F.lit(0).cast("long").alias("d0"),
    )
    cur = base.withColumn("xa", F.col("x0")).withColumn("ya", F.col("y0"))
    for k in range(_HIL_BITS - 1, -1, -1):
        s = 1 << k
        x, y, d = F.col("x0"), F.col("y0"), F.col("d0")
        rx = F.shiftright(x, k).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, k).bitwiseAND(F.lit(1))
        cur = cur.select(
            "xa",
            "ya",
            F.when(ry == 1, x).when(rx == 1, F.lit(s - 1) - y).otherwise(y).alias("x0"),
            F.when(ry == 1, y).when(rx == 1, F.lit(s - 1) - x).otherwise(x).alias("y0"),
            (d + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)).alias("d0"),
        )
    got = {(r["xa"], r["ya"]): r["d0"] for r in cur.collect()}
    assert len(got) == n  # 31/17 are odd, so pairs repeat every n ids
    for (xa, ya), d in got.items():
        assert d == _xy2d_reference(n, xa, ya), (xa, ya)
