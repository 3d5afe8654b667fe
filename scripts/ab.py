#!/usr/bin/env python
"""A/B two variants of the package on named catalog queries in ONE session.

A variant is a list of ``module.attr=value`` patches (the value is a
Python literal) applied before each of its runs and undone after; a
variant with no patch runs the code as it is. Every repeat runs each
query under both variants and alternates which goes first, so session
drift (JIT warm-up, garbage) falls on both alike. Each run is the
query's build plus a collect of its rows, under its own job group.

For each query and variant one JSON line reports the jobs of each run,
the median wall seconds, the sha256 of the sorted rows (equal hashes =
identical results) and any per-call record the returned DataFrame
carries (``kcore_info``, ``cc_strategy``).

Usage:
    python scripts/ab.py [--sf-dir DIR] [--repeats 5] [--warmup 1] \\
        [--a module.attr=value ...] [--b module.attr=value ...] name [name ...]

Example, the graph loops' local finish against their distributed loops:
    python scripts/ab.py --b blow_spark.ops.LOCAL_EDGE_CUTOFF=0 \\
        graph_pagerank_bipartite graph_kcore_decomposition

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``; the session's cores
follow ``$SPARK_GRAFT_CPUS`` as in bench.py.
"""

from __future__ import annotations

import argparse
import ast
import gc
import hashlib
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_patch(spec: str) -> tuple[str, str, object]:
    """``pkg.module.attr=value`` → (module, attr, value)."""
    target, _, value = spec.partition("=")
    module, _, attr = target.rpartition(".")
    if not module or not attr or not value:
        raise SystemExit(f"bad patch {spec!r}: expected module.attr=value")
    return module, attr, ast.literal_eval(value)


def run_once(spark, build, patches) -> tuple[int, float, str, dict]:
    """One patched build + collect → (jobs, seconds, rows sha256, records)."""
    from blow_spark.session import count_jobs

    saved = []
    for module, attr, value in patches:
        mod = importlib.import_module(module)
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, value)

    def build_and_collect():
        t0 = time.perf_counter()
        df = build()
        rows = df.collect()
        return df, rows, time.perf_counter() - t0

    try:
        (df, rows, seconds), jobs = count_jobs(spark, build_and_collect)
    finally:
        for mod, attr, value in reversed(saved):
            setattr(mod, attr, value)
    digest = hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()
    records = {
        k: v for k, v in vars(df).items() if not k.startswith("_") and k != "is_cached"
    }
    # release the run's py4j proxies so the ContextCleaner can free its
    # checkpointed blocks before the next run (profile_query.py does the same)
    del df, rows
    spark.catalog.clearCache()
    gc.collect()
    return jobs, seconds, digest, records


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--a", action="append", default=[], metavar="MODULE.ATTR=VALUE")
    ap.add_argument("--b", action="append", default=[], metavar="MODULE.ATTR=VALUE")
    args = ap.parse_args()
    if not args.sf_dir:
        raise SystemExit("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")

    from blow_spark import get_spark
    from blow_spark.queries import queries

    variants = {"A": [parse_patch(p) for p in args.a], "B": [parse_patch(p) for p in args.b]}
    spark = get_spark(app_name="blow_spark_ab")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = queries()
    for name in args.names:
        build = lambda name=name: catalog[name](spark, args.sf_dir)  # noqa: E731
        runs: dict[str, list] = {v: [] for v in variants}
        for i in range(args.warmup + args.repeats):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for v in order:
                result = run_once(spark, build, variants[v])
                if i >= args.warmup:
                    runs[v].append(result)
        for v, results in runs.items():
            jobs, secs, digests, records = zip(*results)
            print(
                json.dumps(
                    {
                        "query": name,
                        "variant": v,
                        "patches": [f"{m}.{a}={val!r}" for m, a, val in variants[v]],
                        "jobs": list(jobs),
                        "median_s": round(statistics.median(secs), 3),
                        "runs_s": [round(s, 3) for s in secs],
                        "sha256": sorted(set(digests)),
                        "records": records[-1],
                    },
                    default=str,
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
