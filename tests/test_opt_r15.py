"""Round-15 optimization pins.

Focused tests for optimization-round internals changes whose behavior
is not visible through the oracle compare alone:

- dedup._spread's VOLUME-PROPORTIONAL mode (round-14 verdict item #1):
  with ``per_part_rows`` the fan-out is sized to the parquet-footer row
  count (clamped to [1, defaultParallelism]) instead of a blanket jump
  to default parallelism, and a sub-chunk input no-ops (no round-robin
  exchange). Rows, not bytes: sorted id-pair parquet compresses
  several-fold, so file bytes under-count the per-pair verify work.
- bench.summary_line's STABLE summary membership (item #3): the
  driver-visible "queries" dict has a fixed key set, so the driver's
  drop detection can no longer false-fire on displaced rows; "n_ran"
  carries the authoritative ran-count.
- materialize.checkpoint_small's debug-mode row-count guard (item #5):
  the ≤16k-row domain-bounded contract now raises under the test env
  flag instead of being documentation-only.
- the linkpred packed pair key's in-plan domain guard: custkey beyond
  the 2³¹ pack domain raises instead of corrupting silently, and the
  packed aggregate matches the two-column form on in-domain data.
"""

from __future__ import annotations

import json

import pytest

import bench


# ---------------------------------------------------------------------------
# dedup._spread volume-proportional mode
# ---------------------------------------------------------------------------


def _spill_dir(spark, tmp_path, name, rows=2000):
    path = str(tmp_path / name)
    spark.range(0, rows).selectExpr(
        "id as id_a", "id + 1 as id_b"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_spread_volume_noops_below_one_chunk(spark, tmp_path):
    # candidate volume under one chunk: no exchange at all — the
    # round-14 blanket repartition(parallelism) is exactly what item #1
    # flagged for few-thousand-pair candidate sets
    from blow_spark.dedup import _spread

    scan = _spill_dir(spark, tmp_path, "tiny", rows=2000)
    assert _spread(scan, per_part_rows=4000) is scan


def test_spread_volume_sizes_to_rows(spark, tmp_path):
    # 400 rows/partition over 400·want rows -> want partitions, NOT
    # defaultParallelism (want < parallelism on any host with 3+ cores)
    from blow_spark.dedup import _spread

    parallelism = spark.sparkContext.defaultParallelism
    want = max(2, min(5, parallelism - 1))
    scan = _spill_dir(spark, tmp_path, "mid", rows=400 * want)
    out = _spread(scan, per_part_rows=400)
    assert out.rdd.getNumPartitions() == want


def test_spread_volume_caps_at_parallelism(spark, tmp_path):
    # one row per partition would be absurd — the cap is the session's
    # default parallelism, same ceiling as the blanket mode
    from blow_spark.dedup import _spread

    scan = _spill_dir(spark, tmp_path, "big", rows=2000)
    out = _spread(scan, per_part_rows=1)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_blanket_mode_unchanged(spark, tmp_path):
    # per_part_bytes=None keeps the round-14 behavior for the corpus
    # call sites (text-length-bound shingling work, not byte-bound)
    from blow_spark.dedup import _spread

    scan = _spill_dir(spark, tmp_path, "corpus")
    out = _spread(scan)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


# ---------------------------------------------------------------------------
# bench.summary_line stable membership
# ---------------------------------------------------------------------------


def test_summary_rows_subset_of_core():
    assert set(bench.SUMMARY_ROWS) <= set(bench.CORE)


def test_summary_membership_is_timing_independent():
    # same key set whichever rows happen to be slow — the round-14
    # false-drop artifact (3 displaced rows read as dropped) cannot recur
    t1 = {q: 1.0 + i for i, q in enumerate(bench.HEADLINE)}
    t2 = {q: 1.0 + (len(bench.HEADLINE) - i) for i, q in enumerate(bench.HEADLINE)}
    p1 = json.loads(bench.summary_line(t1, 0.1, core=bench.CORE, audit=bench.AUDIT))
    p2 = json.loads(bench.summary_line(t2, 0.1, core=bench.CORE, audit=bench.AUDIT))
    assert set(p1["queries"]) == set(p2["queries"]) == set(bench.SUMMARY_ROWS)
    assert p1["n_ran"] == len(bench.HEADLINE)


def test_summary_line_fits_budget_at_large_values():
    # every row at a three-digit value still fits the driver's capture
    t = {q: 123.45 for q in bench.HEADLINE}
    line = bench.summary_line(t, 0.1, core=bench.CORE, audit=bench.AUDIT)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(bench.SUMMARY_ROWS)


# ---------------------------------------------------------------------------
# materialize.checkpoint_small debug guard
# ---------------------------------------------------------------------------


def test_checkpoint_small_guard_raises_past_contract(spark, monkeypatch):
    from blow_spark.materialize import checkpoint_small

    monkeypatch.setenv("BLOW_SPARK_DEBUG_CHECKPOINT_SMALL", "1")
    with pytest.raises(ValueError, match="16k-row"):
        checkpoint_small(spark.range(0, 20000))


def test_checkpoint_small_guard_passes_bounded_input(spark, monkeypatch):
    from blow_spark.materialize import checkpoint_small

    monkeypatch.setenv("BLOW_SPARK_DEBUG_CHECKPOINT_SMALL", "1")
    out = checkpoint_small(spark.range(0, 100))
    assert out.count() == 100


# ---------------------------------------------------------------------------
# linkpred packed pair key: bijection on the guarded domain, loud
# failure outside it
# ---------------------------------------------------------------------------


def test_pair_counts_matches_two_column_form(spark):
    from pyspark.sql import functions as F

    from blow_spark.queries.linkage import _pair_counts

    rows = [(c, p) for p in range(1, 6) for c in range(1, 8) if (c * p) % 3]
    edges = spark.createDataFrame(rows, "c long, p long")
    a = edges.select(F.col("c").alias("cust_a"), "p")
    b = edges.select(F.col("c").alias("cust_b"), "p")
    packed = {
        (r.cust_a, r.cust_b): r.common_parts for r in _pair_counts(a, b).collect()
    }
    plain = {
        (r.cust_a, r.cust_b): r.common_parts
        for r in a.join(b, "p")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .groupBy("cust_a", "cust_b")
        .agg(F.count("*").cast("bigint").alias("common_parts"))
        .collect()
    }
    assert packed == plain and packed


def test_pair_counts_int_keys_pack_like_long_keys(spark):
    # INT custkeys are widened before the shift: a 32-bit shiftleft by 32
    # is a shift by 0 and would merge distinct pairs
    from pyspark.sql import functions as F

    from blow_spark.queries.linkage import _pair_counts

    rows = [(c, p) for p in range(1, 6) for c in range(1, 8) if (c * p) % 3]

    def counts(key_type):
        edges = spark.createDataFrame(rows, f"c {key_type}, p long")
        a = edges.select(F.col("c").alias("cust_a"), "p")
        b = edges.select(F.col("c").alias("cust_b"), "p")
        return {(r.cust_a, r.cust_b): r.common_parts for r in _pair_counts(a, b).collect()}

    assert counts("int") == counts("long")


def test_pair_counts_raises_outside_pack_domain(spark):
    from pyspark.sql import functions as F

    from blow_spark.queries.linkage import _pair_counts

    # a PAIR whose smaller key is >= 2^31: shiftleft would overflow the
    # BIGINT silently (cust_b alone may ride to 2^32 — the guard is
    # per-column precise)
    big = 1 << 31
    edges = spark.createDataFrame([(big, 1), (big + 1, 1)], "c long, p long")
    a = edges.select(F.col("c").alias("cust_a"), "p")
    b = edges.select(F.col("c").alias("cust_b"), "p")
    with pytest.raises(Exception, match="packed pair key"):
        _pair_counts(a, b).collect()
