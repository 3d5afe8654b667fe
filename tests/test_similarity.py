"""Similarity-search quality tests (blow_spark.similarity).

Brute-force cosine is cross-checked against numpy on the real embeddings
fixture; the SRP-LSH approximate path is measured for recall against the
brute-force ground truth. Sketch seeds are fixed — deterministic."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blow_spark import similarity
from blow_spark.sources import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_brute_force_matches_numpy(emb):
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T

    q = emb.filter(F.col("vec_id") < 5)
    got = similarity.brute_force_topk(q, emb, k=3).collect()
    by_query: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append(r)

    idx_of = {v: i for i, v in enumerate(ids)}
    for qid, rows in by_query.items():
        qi = idx_of[qid]
        order = np.argsort(-sims[qi])
        expect = [int(ids[j]) for j in order if ids[j] != qid][:3]
        assert [r["neighbor_id"] for r in rows] == expect, f"query {qid}"
        for r in rows:
            assert abs(r["cos_sim"] - sims[qi][idx_of[r["neighbor_id"]]]) < 1e-9


def test_lsh_topk_recall_vs_brute_force(emb):
    """Top-1 recall of the SRP-LSH path against exact brute force on the
    RANDOM fixture (max top-1 cosine ≈ 0.48 — near-orthogonal neighbors,
    the hard case). SRP theory: per-band collision (1-θ/π)^4 at θ≈69°
    → overall ≈ 0.47; the seeded sketch lands there deterministically.
    The planted-near-dup case (where recall must be ~1) is covered by
    test_lsh_finds_planted_near_dups."""
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, emb, k=1).collect()
    }
    approx = {}
    for r in similarity.lsh_topk(emb, k=1).collect():
        approx[r["query_id"]] = r["neighbor_id"]
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    recall = hits / len(exact)
    assert recall >= 0.35, f"top-1 recall {recall:.2f}"


def _planted_corpus(spark, n_base=40, dim=32, seed=3):
    """Random base vectors plus a tiny-noise near-duplicate of each:
    vec_id i and i+1000 are nearly parallel (cos > 0.99)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in v + 0.01 * rng.standard_normal(dim)]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_lsh_finds_planted_near_dups(spark):
    df = _planted_corpus(spark)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.lsh_topk(df, k=1).collect()
    }
    hits = sum(1 for i in range(40) if got.get(i) == i + 1000)
    assert hits >= 38, f"only {hits}/40 planted near-dups found"


def test_near_dup_pairs_planted_and_true_negative(spark, emb):
    planted = similarity.cosine_near_dup_pairs(_planted_corpus(spark), threshold=0.9).collect()
    found = {(r["id_a"], r["id_b"]) for r in planted}
    expect = {(i, i + 1000) for i in range(40)}
    assert len(expect - found) <= 2, f"missed {sorted(expect - found)[:5]}"
    for r in planted:
        assert r["cos_sim"] >= 0.9
        assert r["id_a"] < r["id_b"]
    # true negative: the fixture is random vectors — nothing reaches 0.9
    assert similarity.cosine_near_dup_pairs(emb, threshold=0.9).count() == 0


def test_unit_norm(emb):
    normed = similarity.with_unit_norm(emb)
    norms = normed.select(
        F.aggregate(
            F.col("unit_vec"), F.lit(0.0), lambda acc, v: acc + v * v
        ).alias("sq")
    ).agg(F.min("sq").alias("lo"), F.max("sq").alias("hi")).collect()[0]
    assert abs(norms["lo"] - 1.0) < 1e-9 and abs(norms["hi"] - 1.0) < 1e-9


def test_ivf_topk_recall_vs_brute_force(emb):
    """IVF (16 clusters, probe 4) top-1 recall on the random fixture.
    Probing 1/4 of the space would give ~0.25 for unstructured neighbors;
    Voronoi locality pushes the true nearest neighbor into a probed
    cluster far more often — measured 0.63, floor set with margin.
    Deterministic: centroid seeds are hash-picked, no RNG."""
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, emb, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.ivf_topk(emb, k=1).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits / len(exact) >= 0.5


def test_ivf_finds_planted_near_dups(spark):
    df = _planted_corpus(spark)
    got = {r["query_id"]: r["neighbor_id"] for r in similarity.ivf_topk(df, k=1).collect()}
    hits = sum(1 for i in range(40) if got.get(i) == i + 1000)
    assert hits >= 38, f"only {hits}/40 planted near-dups found"


def test_vectorized_topk_matches_fold_topk(sf_dir, emb):
    """The numpy scorer is BIT-EQUAL to its DuckDB fixed-point twin — the
    catalog's SQL fold, which stays the reference — at a second query
    slice and depth (vec_id < 8, k = 3): same neighbors, same ranks,
    same cos_sim doubles (integer fixed-point sums divided and rooted
    identically on both engines)."""
    from blow_spark.oracle import compare, duckdb_run
    from blow_spark.queries import oracle_sql

    sql = oracle_sql()["similarity_topk_bruteforce"]
    for old, new in (("vec_id < 10", "vec_id < 8"), ("rank <= 5", "rank <= 3")):
        assert sql.count(old) == 1, old
        sql = sql.replace(old, new)
    want = duckdb_run(sql, sf_dir)
    assert len(want) == 8 * 3
    q = emb.filter(F.col("vec_id") < 8)
    r = compare("topk_vec_id_lt_8_k3", similarity.brute_force_topk(q, emb, k=3), want)
    assert r.ok, r.detail


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_lsh_leaves_no_persisted_rdds(spark, emb):
    """Cache lifecycle (round-2 advice): the SRP sketch is spilled to a
    temp parquet table, not persisted — after the operator's output is
    fully sunk, no NEW persisted RDDs may remain in the session."""
    before = _persistent_rdd_ids(spark)
    similarity.lsh_topk(emb, k=1, dim=64).write.mode("overwrite").format("noop").save()
    similarity.cosine_near_dup_pairs(emb, threshold=0.9, dim=64).write.mode(
        "overwrite"
    ).format("noop").save()
    after = _persistent_rdd_ids(spark)
    assert after <= before, f"leaked persisted RDDs: {sorted(after - before)}"


def test_int8_quantized_topk_agrees_with_float(spark, sf_dir):
    """Quantization fidelity: uint8 reconstruction error is small enough
    that quantized retrieval returns the same top-1 as the float path
    for (almost) every query."""
    from blow_spark.queries import queries

    qs = queries()
    top1_f = {
        r["query_id"]: r["neighbor_id"]
        for r in qs["similarity_topk_bruteforce"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    top1_q = {
        r["query_id"]: r["neighbor_id"]
        for r in qs["similarity_topk_int8"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    agree = sum(1 for k, v in top1_f.items() if top1_q.get(k) == v)
    assert agree >= len(top1_f) - 2, f"{agree}/{len(top1_f)} top-1 agreement"


def test_lsh_auto_bits_finds_planted_near_dups(spark):
    """bits='auto' picks r ~ log2(N) per band and must still find the
    planted near-parallel pairs (wider sketches prune random collisions,
    not true near-dups)."""
    df = _planted_corpus(spark)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.lsh_topk(df, k=1, bits="auto").collect()
    }
    hits = sum(1 for i in range(40) if got.get(i) == i + 1000)
    assert hits >= 38, f"only {hits}/40 planted near-dups found"


def test_vectorized_topk_query_cap_fails_fast(spark, emb):
    """The driver-materialized query side is bounded: an oversized
    queries_df must raise the routing error BEFORE any toPandas, and a
    10^6-row query set must never silently reach the driver (round-3
    verdict item #4). The default cap routes a million-row set to the
    error; a small explicit cap exercises the message cheaply."""
    big = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="brute_force_topk"):
        similarity.brute_force_topk(big, emb, k=3)
    with pytest.raises(ValueError, match="ivf_topk"):
        similarity.brute_force_topk(
            emb.limit(11), emb, k=3, max_query_rows=10
        )
    # at/under the cap the call still works end-to-end
    out = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 3), emb, k=2, max_query_rows=10
    )
    assert out.count() == 6


def test_cosine_pairs_exact_corpus_cap_fails_fast(spark, emb):
    """cosine_pairs_exact broadcasts the ENTIRE packed corpus; a 10^6-row
    corpus must raise the routing error (pointing at the bucketed
    cosine_near_dup_pairs path) before any broadcast or O(N²) scoring
    (round-4 verdict item #1). The check is limit-pushdown bounded."""
    big = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="cosine_near_dup_pairs"):
        similarity.cosine_pairs_exact(big, threshold=0.9)
    with pytest.raises(ValueError, match="cosine_near_dup_pairs"):
        similarity.cosine_pairs_exact(emb.limit(11), threshold=0.9, max_rows=10)
    # at/under the cap the call still works end-to-end
    assert (
        similarity.cosine_pairs_exact(emb.limit(10), threshold=-1.1, max_rows=10).count()
        == 45
    )


def test_semantic_dedup_merges_planted_pairs_only(spark):
    """SemDeDup on the planted corpus: every (i, i+1000) near-parallel
    pair that lands in the same k-means cluster must merge (keep=min id,
    drop the twin); random base vectors (near-orthogonal to each other)
    must all survive. Clustering geometry decides which pairs share a
    cluster — SemDeDup only ever merges within clusters — so the pin is:
    (a) all 40 base vectors kept, (b) every dropped vector is a planted
    twin whose base is kept, (c) at ≥0.9 the merge set is exactly the
    co-clustered planted pairs (no false merges)."""
    df = _planted_corpus(spark)
    decisions, scored = similarity.semantic_dedup(df, threshold=0.9, n_clusters=4)
    rows = {r["vid"]: r for r in decisions.collect()}
    assert len(rows) == 80
    # (a) base vectors all kept (base id < 1000 is always the component min)
    assert all(rows[i]["keep"] == 1 for i in range(40))
    # (b,c) dropped == planted twins co-clustered with their base
    dropped = {v for v, r in rows.items() if r["keep"] == 0}
    co_clustered = {
        i + 1000
        for i in range(40)
        if rows[i]["cid"] == rows[i + 1000]["cid"]
    }
    assert dropped == co_clustered
    # sanity: clustering actually brought most twins together (nearly
    # parallel vectors land in the same Voronoi cell almost surely)
    assert len(co_clustered) >= 35, f"only {len(co_clustered)}/40 co-clustered"
