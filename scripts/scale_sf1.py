"""One-decade-up bench (round-5 verdict item #6): the 10 most expensive
headline queries, run once at an sf1-SHAPED dataset (10× sf0.1: ~6 M
lineitem, 50 k documents, 20 k embeddings, 1 M events) and compared
against same-session sf0.1 runs. Every slope measured so far is
1×→10× at small absolute sizes where the scheduling floor flatters;
this adds the next decade to separate envelope from data term.

Dataset construction (seeded, written to parquet first so derivation is
excluded from timings; a legitimate sf-dir usable by any query):

- TPC-H tables: 10 key-offset replicas (FK-consistent within each
  replica — same offset applied to every key column), dims copied.
- documents: replica 0 verbatim; replicas 1-9 are per-doc seeded WORD
  PERMUTATIONS (posexplode → sort by xxhash64(doc, pos, replica) →
  rejoin). Permutation keeps the vocabulary and Zipf shape IDENTICAL
  (tokenizer workloads stay honest) while scrambling shingles, so
  near-dup density does not explode the way verbatim replicas would
  (every doc would gain 9 exact duplicates and the LSH candidate set
  would grow ~45× instead of ~10×) — the round-3 methodology, now
  committed.
- embeddings: replica 0 verbatim; replicas 1-9 fresh seeded uniform
  vectors from xxhash64 (same near-orthogonal distribution family, no
  duplicate-vector inflation of the near-dup structure).

The heavy ten are the top batch entries of BENCH_r04 (the streaming
availableNow run is excluded here — its 1×/10×/100× slope is measured
separately in SCALE.md's streaming rows).

Run: python scripts/scale_sf1.py --sf-dir DIR   (~15 min incl. build)
     python scripts/scale_sf1.py --reuse /tmp/scale_sf1_...   (skip build)
     python scripts/scale_sf1.py --only q1,q2 [--reuse DIR]   (other queries)
``--sf-dir`` (the sf0.1 fixtures) defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from functools import reduce

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY_TEN = [
    "graph_pagerank_bipartite",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "tokenizer_bpe_merges",
    "similarity_lsh_topk",
    "dedup_span_excise",
    "profile_column_summary",
    "similarity_topk_bruteforce",
    "contamination_bloom_prefilter",
]

OFF = 100_000_000


def rep10(df, keycols):
    outs = []
    for i in range(10):
        d = df
        for k in keycols:
            d = d.withColumn(k, F.col(k) + F.lit(i * OFF))
        outs.append(d)
    return reduce(lambda a, b: a.union(b), outs)


def permuted_docs(docs, replica: int):
    """Seeded per-doc word permutation: same words, scrambled order.
    array_sort on (hash, pos, word) structs orders by the hash first;
    pos breaks hash ties deterministically. All JVM expressions."""
    words = docs.select(
        "doc_id", "lang", "source", "n_chars",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).withColumn("h", F.xxhash64("doc_id", "pos", F.lit(replica)))
    return (
        words.groupBy("doc_id", "lang", "source", "n_chars")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("text")
        )
        .withColumn("doc_id", F.col("doc_id") + F.lit(replica * 1_000_000))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def seeded_vectors(emb, replica: int, dim: int = 64):
    """Fresh uniform[-1,1) vectors from xxhash64 — same distribution
    family as the fixture (near-orthogonal at dim 64), no duplicates."""
    return emb.select(
        (F.col("vec_id") + F.lit(replica * 1_000_000)).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(F.xxhash64("vec_id", j, F.lit(replica)), F.lit(2_000_000))
                / F.lit(1_000_000.0)
                - F.lit(1.0)
            ).cast("float"),
        ).alias("embedding"),
        "label",
    )


def build_sf1(spark, sf01: str) -> str:
    from blow_spark.sources import read_table

    out = tempfile.mkdtemp(prefix="scale_sf1_")

    def w(df, name):
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    for dim_t in ("region", "nation"):
        w(read_table(spark, sf01, dim_t), dim_t)
    w(rep10(read_table(spark, sf01, "customer"), ["c_custkey"]), "customer")
    w(rep10(read_table(spark, sf01, "supplier"), ["s_suppkey"]), "supplier")
    w(rep10(read_table(spark, sf01, "part"), ["p_partkey"]), "part")
    w(rep10(read_table(spark, sf01, "orders"), ["o_orderkey", "o_custkey"]), "orders")
    w(
        rep10(
            read_table(spark, sf01, "lineitem"),
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ),
        "lineitem",
    )
    w(
        rep10(read_table(spark, sf01, "events"), ["event_id", "user_id"]),
        "events",
    )
    docs = read_table(spark, sf01, "documents")
    w(
        reduce(
            lambda a, b: a.unionByName(b),
            [docs] + [permuted_docs(docs, i) for i in range(1, 10)],
        ),
        "documents",
    )
    emb = read_table(spark, sf01, "embeddings")
    w(
        reduce(
            lambda a, b: a.unionByName(b),
            [emb] + [seeded_vectors(emb, i) for i in range(1, 10)],
        ),
        "embeddings",
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="sf0.1 fixture dir"
    )
    ap.add_argument("--reuse", help="existing sf1 dataset dir (skip build)")
    ap.add_argument("--only", help="comma-separated query names (default: the heavy ten)")
    args = ap.parse_args()
    if not args.sf_dir:
        raise SystemExit("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")
    sf01 = args.sf_dir

    from blow_spark.queries import queries
    from blow_spark.session import get_spark

    spark = get_spark(app_name="scale_sf1")
    cat = queries()

    if args.reuse:
        sf1 = args.reuse
    else:
        t0 = time.time()
        sf1 = build_sf1(spark, sf01)
        print(f"built sf1 dataset at {sf1} in {round(time.time() - t0, 1)} s", file=sys.stderr)

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    targets = args.only.split(",") if args.only else HEAVY_TEN

    results: dict = {"sf1_dir": sf1}
    # warm codegen once
    noop(cat["flagship_fizzbuzz_agg"](spark, sf01))
    for name in targets:
        for label, sfd in (("sf0.1", sf01), ("sf1", sf1)):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                noop(cat[name](spark, sfd))
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            results[f"{name}_{label}"] = round(best, 2)
        results[f"{name}_slope"] = round(
            results[f"{name}_sf1"] / max(results[f"{name}_sf0.1"], 1e-9), 2
        )
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
