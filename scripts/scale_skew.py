"""Two-point measurement for SKEWED-join mitigation (round-5 verdict
item #3): a Zipf-skewed fact⋈dim join (hot key ≥30% of fact rows) at 1×
and 10× fact size, comparing three physical strategies on identical
inputs:

  plain   — shuffle hash/sort-merge join, AQE skew handling DISABLED
            (the canonical 100 TB scale-killer: the hot key's entire
            volume lands on ONE reducer task)
  aqe     — AQE skewJoin enabled (runtime split of oversized shuffle
            partitions — Spark's built-in mitigation)
  salted  — ops.salted_join (explicit key salting: hot key spread over
            `salt` reducers, dim replicated salt×; the manual fallback
            for pathological long-tails AQE's thresholds miss)

Reported per cell: best-of-2 wall-clock AND the max rows landing in one
join-stage task (the hot-reducer histogram — measured from
spark_partition_id() inside the join stage, before any later exchange),
which is the quantity that actually OOMs/straggles at scale.

Methodology matches SCALE.md's other tables: seeded synthetic parquet
inputs (derivation excluded from timings), operators warmed once,
best-of-2 on get_spark's default local[N]. Broadcast is disabled throughout — the scenario
is "dim too large to broadcast" (a broadcastable dim needs no skew
mitigation at all).

MEASUREMENT TRAP this script hit and now documents: consuming the join
with a bare count() lets Catalyst prune every column but the join key;
the hot partition is then a run of CONSTANT keys that compresses to
~30 KB, so (a) the timing measures a degenerate projection and (b)
AQE's byte-based skew detection sees nothing above ANY threshold. Both
probes therefore keep the fact payload and dim attrs alive through the
consuming aggregate (see consume / join_task_histogram).

Run: python scripts/scale_skew.py            (full, ~5 min)
     python scripts/scale_skew.py --quick    (sanity shapes only)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_FRACTION = 0.35  # hot key's share of fact rows (>= the brief's 30%)
N_KEYS = 100_000
SALT = 8


def skewed_fact(spark, n_rows: int, seed: int = 11) -> str:
    """Seeded skewed fact table: HOT_FRACTION of rows carry key 0, the
    rest are uniform over N_KEYS keys. Payload column so shuffled bytes
    are non-trivial."""
    hot_n = int(n_rows * HOT_FRACTION)
    df = spark.range(n_rows).select(
        F.when(F.col("id") < hot_n, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(N_KEYS - 1)) + 1)
        .alias("k"),
        F.xxhash64("id", F.lit(seed + 1)).alias("payload"),
    )
    path = tempfile.mkdtemp(prefix=f"scale_skew_fact_{n_rows}_")
    df.write.mode("overwrite").parquet(path)
    return path


def dim_table(spark, seed: int = 23) -> str:
    """Dim keyed 0..N_KEYS-1 with a ~200 B padding column: ~25 MB on
    disk — representative of 'too big to broadcast' once the broadcast
    threshold is disabled."""
    df = spark.range(N_KEYS).select(
        F.col("id").alias("k"),
        F.repeat(F.sha2(F.concat(F.col("id").cast("string"), F.lit(seed)), 256), 3).alias(
            "attrs"
        ),
    )
    path = tempfile.mkdtemp(prefix="scale_skew_dim_")
    df.write.mode("overwrite").parquet(path)
    return path


def join_task_histogram(joined) -> tuple[int, int]:
    """(max_rows_in_one_task, n_tasks_holding_hot_key) measured INSIDE
    the join stage: spark_partition_id() is evaluated before any further
    exchange, so it identifies the reducer task each output row was
    produced by.

    The payload columns are kept ALIVE through the aggregate — without
    them Catalyst prunes everything but the join key, the constant hot
    key compresses to ~nothing, and the shuffle's measured partition
    BYTES (what AQE's skew detection reads) degenerate to under every
    threshold. That pruning trap cost this script its first honest AQE
    measurement; see the module docstring."""
    pid = joined.select(
        F.spark_partition_id().alias("pid"),
        (F.col("k") == 0).cast("int").alias("hot"),
        "payload",
        "attrs",
    )
    agg = pid.groupBy("pid").agg(
        F.count("*").alias("n"),
        F.sum("hot").alias("hot_n"),
        F.max("payload").alias("_p"),
        F.sum(F.length("attrs")).alias("_a"),
    )
    rows = agg.collect()
    max_rows = max(r["n"] for r in rows)
    hot_parts = sum(1 for r in rows if r["hot_n"] > 0)
    return max_rows, hot_parts


def consume(joined) -> None:
    """Materialize the join with BOTH payload columns surviving into the
    aggregate (max/length — no ANSI overflow on random int64), so the
    shuffle actually carries the fact payload and dim attrs. A bare
    count() lets column pruning reduce the fact shuffle to the constant
    hot key (~30 KB for 7M rows after compression) — benchmarking that
    would time a degenerate projection and blind AQE's byte-based skew
    detection."""
    joined.agg(
        F.max("payload").alias("_p"), F.sum(F.length("attrs")).alias("_a")
    ).collect()


def best_of(fn, n: int = 2) -> float:
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return min(times)


def main() -> None:
    quick = "--quick" in sys.argv
    from blow_spark import ops
    from blow_spark.session import get_spark

    spark = get_spark(app_name="scale_skew")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def set_aqe(enabled: bool, skew: bool) -> None:
        spark.conf.set("spark.sql.adaptive.enabled", str(enabled).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew).lower())
        # Scale the skew-detection threshold to this benchmark's absolute
        # sizes: the DEFAULT (256 MB) never sees a ~60 MB hot partition,
        # so out-of-the-box AQE does nothing here — an honest finding in
        # its own right (recorded in SCALE.md): AQE skew handling is a
        # THRESHOLD-TUNED mitigation, salting is deterministic.
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    sizes = (200_000, 2_000_000) if quick else (2_000_000, 20_000_000)
    dim_p = dim_table(spark)
    results: dict = {"hot_fraction": HOT_FRACTION, "n_keys": N_KEYS, "salt": SALT}

    # warm all three code paths once (codegen/JIT)
    wf = spark.read.parquet(skewed_fact(spark, 50_000))
    wd = spark.read.parquet(dim_p)
    consume(wf.join(wd, "k"))
    consume(ops.salted_join(wf, wd, "k", salt=SALT))

    for n in sizes:
        fact_p = skewed_fact(spark, n)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p)

        # ---- plain: no AQE skew handling, one reducer owns the hot key
        set_aqe(True, False)
        results[f"plain_sec_{n}"] = best_of(lambda: consume(fact.join(dim, "k")))
        set_aqe(False, False)  # static partitioning for an honest histogram
        mx, hp = join_task_histogram(fact.join(dim, "k"))
        results[f"plain_max_task_rows_{n}"], results[f"plain_hot_tasks_{n}"] = mx, hp

        # ---- AQE-only: runtime skew split
        set_aqe(True, True)
        results[f"aqe_sec_{n}"] = best_of(lambda: consume(fact.join(dim, "k")))
        mx, hp = join_task_histogram(fact.join(dim, "k"))
        results[f"aqe_max_task_rows_{n}"], results[f"aqe_hot_tasks_{n}"] = mx, hp

        # ---- salted: explicit spread, AQE skew off (isolate the salt)
        set_aqe(True, False)
        results[f"salted_sec_{n}"] = best_of(
            lambda: consume(ops.salted_join(fact, dim, "k", salt=SALT))
        )
        set_aqe(False, False)
        mx, hp = join_task_histogram(ops.salted_join(fact, dim, "k", salt=SALT))
        results[f"salted_max_task_rows_{n}"], results[f"salted_hot_tasks_{n}"] = mx, hp

    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    sys.exit(main() or 0)
