"""Two-point linearity measurements for the round-6 families: retrieval
serving (RRF fusion, MMR rerank, context pack), the recursive-CTE front
door, the XML roundtrip, the filter-attrition report, the
experimentation analytics (attribution, CUPED, bootstrap CI), the
entity-resolution fuzzy join, the leakage-safe split, the spatial
ε-join, the rolling-MAD anomaly window, the SRM trust gate, the
erasure cascade, and the bitmap exact-distinct aggregate.

Methodology (same as scale_families.py): seeded 10x replicas of the
sf0.1 fixtures materialized to parquet first (timings exclude input
derivation), operators warmed per session, min-of-2 on get_spark's default local[N],
results consumed through a noop sink so column pruning cannot blind the
timing (see the round-5 measurement-trap note in SCALE.md).

Replica design notes:
- embeddings/documents replicas offset ids by 1M·i, so the retrieval
  query set stays FIXED at vec_id < 8 while the corpus scales 10x —
  the |Q|-fixed serving contract the docstrings claim.
- events replicas offset BOTH event_id and user_id: replicating events
  under the same users would multiply per-user event density and make
  the attribution pair join grow quadratically by construction (a
  replica artifact, not operator behavior). Offsetting user_id scales
  the user population instead, which is how a real corpus grows.
- the spatial ε-join replicates the PROBE (customer) side only: key
  offsets re-hash into fresh uniform points, so probe density grows 10x
  while build density is fixed — the "more customers, same warehouses"
  growth. Replicating BOTH sides would grow the true pair count ~100x
  (pair density scales with the density product — physics of ε-joins,
  not a plan defect) and measure that instead of the operator.
- part replicas offset p_partkey only; p_name is untouched, so the
  fuzzy join's distinct-name universe is FIXED while the scanned corpus
  grows 10x — measuring the scan+distinct phase. The name-pair phase is
  corpus-size-independent by design (it runs on the distinct-name
  census), so this is the whole story, not a shortcut.

Run: python scripts/scale_r6.py --sf-dir DIR
``--sf-dir`` (the sf0.1 fixtures) defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
from functools import reduce

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
    args = ap.parse_args()
    if not args.sf_dir:
        raise SystemExit("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")

    from blow_spark.queries import queries
    from blow_spark.session import get_spark
    from blow_spark.sources import read_table

    spark = get_spark(app_name="scale_r6")
    sf = args.sf_dir
    cat = queries()

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    tenx = tempfile.mkdtemp(prefix="scale_r6_tenx_")

    def rep10(df, keycols, off):
        outs = []
        for i in range(10):
            d = df
            for k in keycols:
                d = d.withColumn(k, F.col(k) + F.lit(i * off))
            outs.append(d)
        return reduce(lambda a, b: a.union(b), outs)

    # documents replicas are per-doc seeded WORD PERMUTATIONS (the
    # scale_sf1.py recipe), not verbatim copies: verbatim duplication
    # multiplies every shingle's document frequency 10x, pushing
    # mid-frequency shingles across the rare-shingle blocking cutoff and
    # collapsing the pair-generation phase split_leakage_safe measures
    # (the replica-density artifact class the events note below avoids)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_sf1 import permuted_docs

    docs01 = read_table(spark, sf, "documents")
    reduce(
        lambda a, b: a.union(b),
        [docs01] + [permuted_docs(docs01, i) for i in range(1, 10)],
    ).write.parquet(tenx + "/documents.parquet")
    rep10(read_table(spark, sf, "embeddings"), ["vec_id"], 1_000_000).write.parquet(
        tenx + "/embeddings.parquet"
    )
    rep10(
        read_table(spark, sf, "orders"), ["o_orderkey", "o_custkey"], 100_000_000
    ).write.parquet(tenx + "/orders.parquet")
    # customer offset MUST equal orders' o_custkey offset (100M): a
    # mismatch breaks the orders→customer FK for replicas 1-9 and turns
    # the erasure-cascade 10x point into a 90%-orphan corpus (caught by
    # the round-6 self-review; the spatial join is offset-agnostic
    # since coords re-hash from the key either way)
    rep10(read_table(spark, sf, "customer"), ["c_custkey"], 100_000_000).write.parquet(
        tenx + "/customer.parquet"
    )
    import shutil

    shutil.copy(sf + "/supplier.parquet", tenx + "/supplier.parquet")
    rep10(read_table(spark, sf, "part"), ["p_partkey"], 10_000_000).write.parquet(
        tenx + "/part.parquet"
    )
    rep10(
        read_table(spark, sf, "lineitem"), ["l_orderkey"], 100_000_000
    ).write.parquet(tenx + "/lineitem.parquet")
    ev = read_table(spark, sf, "events")
    rep10(ev, ["event_id"], 10_000_000).withColumn(
        "user_id",
        F.col("user_id")
        + F.floor(F.col("event_id") / 10_000_000) * 1_000_000,
    ).write.parquet(tenx + "/events.parquet")

    for name in [
        "search_rrf_hybrid_fusion",
        "search_mmr_rerank",
        "rag_context_pack",
        "sql_recursive_cte_front_door",
        "source_xml_roundtrip",
        "pipeline_filter_attrition",
        "events_attribution_multitouch",
        "experiment_cuped_readout",
        "experiment_bootstrap_uplift_ci",
        "join_fuzzy_levenshtein_block",
        "split_leakage_safe",
        "join_spatial_grid_epsilon",
        "timeseries_rolling_mad_anomaly",
        "experiment_srm_check",
        "privacy_erasure_cascade",
        "agg_bitmap_exact_distinct",
    ]:
        fn = cat[name]
        t1 = bench(lambda: noop(fn(spark, sf)))
        t10 = bench(lambda: noop(fn(spark, tenx)))
        print(name, "1x", t1, "10x", t10, "slope", round(t10 / t1, 2))


if __name__ == "__main__":
    main()
