"""Two-point linearity measurements for the streaming, relational-core,
text/tokenizer and span-dedup families (round 4 — backs the SCALE.md
round-4 table rows; the graph family lives in scale_graph.py), and the
exact-substring excision's two paths.

Methodology: seeded replicas of the sf0.1 fixtures materialized to
parquet first (timings exclude input derivation), operators warmed per
session, min-of-2 on get_spark's default local[N] (N = host cores or
$SPARK_GRAFT_CPUS). Replicas keep text identical (Zipf note: vocab does
not grow — real corpora sit between that and linear).

Exact-substring rows: dedup.exact_substring_excise over the sf0.1
documents and over 5 and 10 verbatim replicas of them (every window of
a replica is duplicated: the worst case for the verify step), each
through the one-task path and the forced distributed plan
(dedup.LOCAL_CHAR_CUTOFF patched to 0), consumed by a noop sink. The
one task's peak Python-worker RSS is VmHWM read in a second session
without worker reuse, as scale_graph.py does.

Run: python scripts/scale_families.py --sf-dir DIR [--streams-only|--batch-only|--substring-only]
``--sf-dir`` (the sf0.1 fixtures) defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
import uuid
from functools import reduce
from unittest import mock

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench(fn, warm: int = 1, runs: int = 2) -> float:
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="sf0.1 fixture dir"
    )
    for flag in ("--streams-only", "--batch-only", "--substring-only"):
        ap.add_argument(flag, action="store_true")
    args = ap.parse_args()
    if not args.sf_dir:
        raise SystemExit("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")

    from blow_spark import dedup
    from blow_spark.queries import queries
    from blow_spark.session import get_spark
    from blow_spark.sources import read_table
    from blow_spark.streaming import EVENTS_SCHEMA

    spark = get_spark(app_name="scale_families")
    sf = args.sf_dir
    cat = queries()
    only = args.streams_only or args.batch_only or args.substring_only
    batch = not only or args.batch_only
    streams = not only or args.streams_only
    substring = not only or args.substring_only

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    if batch:
        # ---- 10x TPC-H slice (offset keys) + 10x documents ----
        OFF = 100_000_000
        tenx = tempfile.mkdtemp(prefix="scale_tenx_")

        def rep10(df, keycols):
            outs = []
            for i in range(10):
                d = df
                for k in keycols:
                    d = d.withColumn(k, F.col(k) + F.lit(i * OFF))
                outs.append(d)
            return reduce(lambda a, b: a.union(b), outs)

        rep10(read_table(spark, sf, "customer"), ["c_custkey"]).write.parquet(
            tenx + "/customer.parquet"
        )
        rep10(read_table(spark, sf, "orders"), ["o_orderkey", "o_custkey"]).write.parquet(
            tenx + "/orders.parquet"
        )
        rep10(
            read_table(spark, sf, "lineitem"),
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ).write.parquet(tenx + "/lineitem.parquet")
        docs = read_table(spark, sf, "documents")
        reduce(
            lambda a, b: a.union(b),
            [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000)) for i in range(10)],
        ).write.parquet(tenx + "/documents.parquet")

        for name in [
            "tpch_q3_shipping_priority",
            "tokenizer_vocab_build",
            "tokenizer_bpe_merges",
            "text_bm25_search",
        ]:
            fn = cat[name]
            print(name, "1x", bench(lambda: noop(fn(spark, sf))))
            print(name, "10x", bench(lambda: noop(fn(spark, tenx))))

        # span excise: 10 identical replicas = worst-case 100% coverage
        one = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
        ten = spark.read.parquet(tenx + "/documents.parquet").select("doc_id", "text")
        print("span_excise 1x", bench(lambda: dedup.duplicate_span_excise(one, "text", "doc_id").count()))
        print("span_excise 10x", bench(lambda: dedup.duplicate_span_excise(ten, "text", "doc_id").count()))

    if streams:
        ev = read_table(spark, sf, "events")
        p1 = tempfile.mkdtemp(prefix="scale_ev1_")
        p100 = tempfile.mkdtemp(prefix="scale_ev100_")
        ev.coalesce(1).write.mode("overwrite").parquet(p1)
        reduce(
            lambda a, b: a.union(b),
            [ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000)) for i in range(100)],
        ).coalesce(8).write.mode("overwrite").parquet(p100)

        def tumble(stage):
            stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(f"t_{uuid.uuid4().hex[:8]}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def sess(stage):
            from blow_spark import streaming as ST

            stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)
            out = ST.session_close_on_timeout(
                stream.withWatermark("ts", "30 minutes").select("user_id", "ts")
            )
            q = (
                out.writeStream.outputMode("append")
                .format("memory")
                .queryName(f"s_{uuid.uuid4().hex[:8]}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        print("tumbling 1x(100k)", bench(lambda: tumble(p1)))
        print("tumbling 100x(10M)", bench(lambda: tumble(p100)))
        print("sessionizer 1x(100k)", bench(lambda: sess(p1)))
        print("sessionizer 100x(10M)", bench(lambda: sess(p100)))

    if substring:
        exact_substring_rows(spark, sf)


def exact_substring_rows(spark, sf: str) -> None:
    """Local vs forced-distributed exact-substring excision at 1x, 5x and
    10x the sf0.1 documents, then the one task's peak worker RSS. Stops
    ``spark``: the RSS runs need a session without worker reuse."""
    from scale_graph import worker_peak_mb

    from blow_spark import dedup
    from blow_spark.session import get_spark

    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    corpora = {}
    for k in (1, 5, 10):
        path = tempfile.mkdtemp(prefix=f"scale_xsub{k}_")
        reduce(
            lambda a, b: a.union(b),
            [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000)) for i in range(k)],
        ).write.mode("overwrite").parquet(path)
        corpora[k] = path

    def excise(path: str) -> None:
        df = spark.read.parquet(path)
        dedup.exact_substring_excise(df, "text", "doc_id").write.mode("overwrite").format(
            "noop"
        ).save()

    print("exact_substring LOCAL_CHAR_CUTOFF", dedup.LOCAL_CHAR_CUTOFF)
    for k, path in corpora.items():
        n_chars = spark.read.parquet(path).agg(F.sum(F.length("text"))).first()[0]
        with mock.patch.object(dedup, "LOCAL_CHAR_CUTOFF", 10**9):
            local = bench(lambda path=path: excise(path))
        with mock.patch.object(dedup, "LOCAL_CHAR_CUTOFF", 0):
            dist = bench(lambda path=path: excise(path))
        probe = bench(lambda path=path: dedup._fits_one_task(spark.read.parquet(path), "text"))
        print(
            f"exact_substring {k}x ({n_chars} chars) local {local} s, distributed {dist} s,"
            f" size probe {probe} s"
        )

    spark.stop()
    spark = get_spark(
        app_name="scale_families_rss", extra_conf={"spark.python.worker.reuse": "false"}
    )
    with mock.patch.object(dedup, "LOCAL_CHAR_CUTOFF", 10**9):
        for k, path in corpora.items():
            mb = worker_peak_mb(lambda path=path: excise(path))
            print(f"exact_substring {k}x local worker peak {mb} MB")
    spark.stop()
    for path in corpora.values():
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
