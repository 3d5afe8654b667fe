"""Two-point linearity measurement for the graph/iterative family
(round-3 verdict item #5): pagerank's distributed loop at 1x and 10x
edges, plus each graph loop's one-task local path against its forced
distributed loop on the local side of their shared edge cutoff
(``ops.LOCAL_EDGE_CUTOFF``) over the same graph family — pagerank,
kcore, bfs_distances (string node ids: ``_min_relax``'s object-column
case) and connected_components.

After the timings, each local run is repeated once in a second session
whose Python workers are not reused, to report the peak RSS of the
worker that ran its one task (``*_local_<n>_worker_mb``: VmHWM read at
the end of the task, so that task's peak, the pages it shares with the
forked worker daemon included). The timings themselves run with worker
reuse on, as every other session does.

Methodology matches SCALE.md's round-3 dedup/ANN table: seeded synthetic
inputs materialized to parquet first (so the measured operator excludes
input derivation), operators warmed once per session with a small run,
best-of-2 timings on ``get_spark``'s default local[N] (N = the host's
cores, or ``$SPARK_GRAFT_CPUS``).

Run: python scripts/scale_graph.py            (full, ~10 min)
     python scripts/scale_graph.py --quick    (sanity shapes only)
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def random_edges(spark, n_edges: int, avg_degree: int = 10, seed: int = 7):
    """Seeded pseudo-random multigraph: N = n_edges/avg_degree nodes,
    endpoints from xxhash64 of the edge index — deterministic, uniform,
    no driver data. Written to parquet so timed runs scan files like a
    real deployment (and derivation cost is excluded)."""
    n_nodes = max(2, n_edges // avg_degree)
    df = (
        spark.range(n_edges)
        .select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_nodes)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    path = tempfile.mkdtemp(prefix=f"scale_graph_{n_edges}_")
    df.write.mode("overwrite").parquet(path)
    return path


def best_of(fn, n: int = 2) -> float:
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return min(times)


@contextlib.contextmanager
def distributed_loops():
    """Force the distributed loops: no non-empty graph fits a cutoff of 0."""
    from blow_spark import ops

    saved = ops.LOCAL_EDGE_CUTOFF
    ops.LOCAL_EDGE_CUTOFF = 0
    try:
        yield
    finally:
        ops.LOCAL_EDGE_CUTOFF = saved


def worker_peak_mb(fn) -> float:
    """Run ``fn()`` once → the peak RSS in MB of the Python workers that
    ran its one-task paths. Every such path goes through
    ``ops._in_one_task``; its task is wrapped to write the worker's
    VmHWM to a scratch file."""
    from blow_spark import ops

    out_dir = tempfile.mkdtemp(prefix="scale_graph_rss_")
    real = ops._in_one_task

    def recording(df, task, schema):
        def run(pdf):
            out = task(pdf)
            with open("/proc/self/status") as f:
                hwm = next(line.split()[1] for line in f if line.startswith("VmHWM:"))
            with open(os.path.join(out_dir, f"{os.getpid()}_{time.time_ns()}"), "w") as f:
                f.write(hwm)
            return out

        return real(df, run, schema)

    ops._in_one_task = recording
    try:
        fn()
    finally:
        ops._in_one_task = real
    peaks = [int(open(p).read()) for p in glob.glob(os.path.join(out_dir, "*"))]
    assert peaks, "the run took no one-task path"
    return round(max(peaks) / 1024, 1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--quick", action="store_true")
    quick = ap.parse_args().quick
    from blow_spark import dedup, ops
    from blow_spark.session import get_spark

    spark = get_spark(app_name="scale_graph")
    results = {
        "cores": spark.sparkContext.defaultParallelism,
        "local_edge_cutoff": ops.LOCAL_EDGE_CUTOFF,
    }

    sizes = (100_000, 1_000_000) if quick else (1_000_000, 10_000_000)

    # ---- pagerank: 1x vs 10x edges, 3 iterations, distributed loop ----
    # graphs of up to LOCAL_EDGE_CUTOFF edges would otherwise run in one
    # local task
    paths = {n: random_edges(spark, n) for n in sizes}
    # warm (codegen/JIT) on a small set, both paths
    warm = spark.read.parquet(random_edges(spark, 50_000))
    ops.pagerank(warm, iterations=3, assume_distinct=True).count()
    with distributed_loops():
        ops.pagerank(warm, iterations=3, assume_distinct=True).count()
        for n, p in paths.items():
            e = spark.read.parquet(p)
            results[f"pagerank_{n}"] = best_of(
                lambda e=e: ops.pagerank(e, iterations=3, assume_distinct=True).count()
            )

    # ---- every graph loop, local path vs distributed, under the cutoff ----
    # Both sizes are under the 2 M cutoff, so the default run measures
    # the LOCAL path's slope; distributed_loops() then forces the
    # DISTRIBUTED path on identical graphs.
    def pagerank(e):
        return ops.pagerank(e, iterations=3, assume_distinct=True)

    def kcore(e):
        # canonical u < v pairs; mean degree ~20, so k = 12 peels for
        # several rounds and leaves a non-empty core
        pairs = e.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).distinct()
        return ops.kcore(pairs, 12, max_iter=64)

    def bfs(e):
        named = e.select(
            F.concat(F.lit("node-"), F.col("src").cast("string")).alias("src"),
            F.concat(F.lit("node-"), F.col("dst").cast("string")).alias("dst"),
        )
        sources = e.sparkSession.range(10).select(
            F.concat(F.lit("node-"), F.col("id").cast("string")).alias("node")
        )
        return ops.bfs_distances(named, sources, max_hops=3)

    def cc(e):
        return dedup.connected_components(
            e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        )

    loop_sizes = (20_000, 200_000) if quick else (200_000, 2_000_000)
    loop_paths = {n: random_edges(spark, n) for n in loop_sizes}
    loops = (("pagerank", pagerank), ("kcore", kcore), ("bfs", bfs), ("cc", cc))
    for name, op in loops[:3]:
        op(warm).count()
        with distributed_loops():
            op(warm).count()
        for n, p in loop_paths.items():
            e = spark.read.parquet(p)
            results[f"{name}_local_{n}"] = best_of(lambda e=e: op(e).count())
            with distributed_loops():
                results[f"{name}_distributed_{n}"] = best_of(lambda e=e: op(e).count())
            if name == "kcore":
                results[f"kcore_info_{n}"] = op(e).kcore_info

    wpairs = warm.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    dedup.connected_components(wpairs).count()                      # warm local
    dedup.connected_components(wpairs, local_edge_cutoff=0).count() # warm dist
    for n, p in loop_paths.items():
        pairs = spark.read.parquet(p).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        results[f"cc_local_{n}"] = best_of(
            lambda pairs=pairs: dedup.connected_components(pairs).count()
        )
        # LAST_CC_STRATEGY is a single-threaded convenience; this script
        # runs serially so the assert is safe. Under any parallelization
        # use the per-call `df.cc_strategy` attribute instead.
        assert dedup.LAST_CC_STRATEGY["strategy"] == "local"
        results[f"cc_distributed_{n}"] = best_of(
            lambda pairs=pairs: dedup.connected_components(
                pairs, local_edge_cutoff=0
            ).count()
        )
        assert dedup.LAST_CC_STRATEGY["strategy"] == "distributed"

    # ---- the cutoff flip on a >2M graph, default cutoff ----
    if not quick:
        big = spark.read.parquet(random_edges(spark, 2_500_000)).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        results["cc_default_2500000"] = best_of(
            lambda: dedup.connected_components(big).count(), n=1
        )
        results["cc_default_2500000_strategy"] = dedup.LAST_CC_STRATEGY["strategy"]

    # ---- the one task's peak worker RSS, in a session without reuse ----
    spark.stop()
    spark = get_spark(app_name="scale_graph_rss", extra_conf={"spark.python.worker.reuse": "false"})
    for name, op in loops:
        for n, p in loop_paths.items():
            e = spark.read.parquet(p)
            results[f"{name}_local_{n}_worker_mb"] = worker_peak_mb(lambda e=e: op(e).count())

    print(json.dumps(results, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
