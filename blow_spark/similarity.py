"""Similarity search over embedding columns (``array<float>``).

Paths, per the task brief:

* **brute-force cosine top-k** (``brute_force_topk``) — the exact
  baseline, in blow's flatMap shape: the bounded query matrix broadcasts
  to every executor, each corpus Arrow batch scores against it in numpy
  and keeps a partial top-k, and one window merges the partials. Dot
  products are fixed-point integer sums (round(x·y·1e12) → int64, see
  ``_exact_cosine``): order-independent, so the DuckDB oracle
  hash-matches at any parallelism.
* **exact all-pairs thresholding** (``cosine_pairs_exact``) — the audit
  form that calibrates the approximate paths; same arithmetic.
* **LSH-bucketed (random hyperplane / SRP)** — the scale path: sign-bit
  sketch per vector (one numpy GEMM per Arrow batch, spilled once to a
  temp table so both join sides read identical bits), bucket equi-join
  on (id, band, chunk) — 8-byte sketch chunks, never vectors — then
  re-rank of candidates through the same fixed-point scorer as the
  exact baseline. At 10^9 vectors the candidate join is the only
  quadratic-ish term and it is bounded per bucket. Round-3 rewrite,
  measured at sf0.1 best-of-2 (same bench.py methodology):
  similarity_lsh_topk 18.8 s → 3.1 s, similarity_near_dup 15.4 s →
  1.9 s — the sketch's interpreted HOF folds became a batch GEMM, and
  the rescore's explode+groupBy (18.3 s for 925 k candidates alone)
  became one numpy pass per batch.
* **IVF** — k-means-bucketed probe path, same re-rank.

Also: embedding-cosine near-duplicate detection (threshold instead of
top-k). The reference has none of this (SURVEY.md §2.2 "Extension ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def with_unit_norm(df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec") -> DataFrame:
    """Pre-normalize once so downstream cosine = plain dot product.
    One numpy pass per Arrow batch (map-only, pipelined with the scan).

    The round-2 expression form — ``transform(v, x / aggregate(...))`` —
    re-evaluated the norm FOLD once per element: O(dim²) interpreted
    lambda calls per row, measured 2.0 s for a single pass at 2000×64
    where this form is ~50 ms; worse, Catalyst's CollapseProject
    re-inlines a pre-computed norm column back into the lambda, so the
    expression path can't even cache it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import types as T

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def norm_batches(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vc = batch.column(batch.schema.get_field_index(vec_col))
            lengths = pc.list_value_length(vc).to_numpy(zero_copy_only=False)
            offs = np.concatenate(([0], np.cumsum(lengths)))
            flat = vc.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                norms = np.sqrt(np.add.reduceat(flat * flat, offs[:-1]))
                unit = flat / np.repeat(norms, lengths)
            out = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), pa.array(unit, pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, out], [*batch.schema.names, out_col]
            )

    return df.mapInArrow(norm_batches, out_schema)


#: Fixed-point quantum for dot-product terms: round(x·y·SCALE) → BIGINT.
#: Embedding components are O(1), so each term is ≤ ~1e12 and a 64-dim sum
#: stays far inside int64; the induced cosine error is ≤ dim·0.5/SCALE ≈
#: 3e-11 — far below any ranking-relevant gap, and EXACT across engines
#: (integer sums are order-independent, unlike float SUMs).
DOT_SCALE = 1_000_000_000_000.0

#: Hard cap on the driver-materialized query side of brute_force_topk.
#: 100k × 128-dim float64 ≈ 100 MB on the driver and in every
#: executor's closure — the honest ceiling of the "broadcast the query
#: matrix" design. Larger query sets must use the symmetric distributed
#: paths instead.
MAX_BROADCAST_QUERY_ROWS = 100_000

#: Hard cap on the corpus ``cosine_pairs_exact`` may broadcast whole.
#: Size formula: N × (8 + dim·4) B packed ≈ 52 MB at 100k × 128-dim —
#: and the pair work is O(N²) by definition (5·10⁹ scored pairs at the
#: cap), so anything larger is wrong on CPU grounds before memory ones.
MAX_EXACT_PAIRS_ROWS = 100_000


def _fail_fast_over(df: DataFrame, cap: int, msg: str) -> None:
    """Raise ValueError(msg) if ``df`` has more than ``cap`` rows.

    Scans at most cap+1 rows via limit pushdown — never the whole input —
    so the guard itself is safe on a 10⁹-row table."""
    if df.limit(cap + 1).count() > cap:
        raise ValueError(msg)


def _round_half_away(t):
    """Vectorized EXACT replica of SQL ROUND on doubles (half away from
    zero): np.rint is correctly-rounded-to-nearest with ties-to-EVEN, so
    only the exact .5 ties differ — detect them (|t - trunc(t)| == 0.5
    is exact arithmetic below 2^51) and push them away from zero. This
    matches DuckDB's std::round on the binary value and Spark's
    BigDecimal HALF_UP on its exact decimal (a double is exactly k.5
    only when that is its decimal expansion), so numpy scoring is
    bit-equal to the oracle's SQL arithmetic — no floor(x+0.5) pitfalls
    at binade boundaries."""
    import numpy as np

    r = np.rint(t)
    frac = t - np.trunc(t)
    ties = np.abs(frac) == 0.5
    if ties.any():
        r[ties] = np.trunc(t[ties]) + np.copysign(1.0, t[ties])
    return r


def _fixed_point_sums(x, y):
    """Σ round(xᵢ·yᵢ·DOT_SCALE) over the last axis, as int64 — the one
    place the engine quantizes a product. The oracle SQL spells the same
    term ``CAST(ROUND(x * y * 1e12) AS BIGINT)`` and sums it; integer
    sums are order-independent, so both engines agree bit for bit."""
    import numpy as np

    return _round_half_away(x * y * DOT_SCALE).astype(np.int64).sum(axis=-1)


def _exact_cosine(a, b, bn_q=None):
    """Exact fixed-point cosine of the row pairs (a[i], b[i]) of two
    float64 arrays (last axis = dim; leading axes broadcast, so one
    query row scores against every row of ``b``). DOT_SCALE cancels:
    dot_q / (√an_q·√bn_q) == a·b / (|a||b|). ``bn_q`` passes ``b``'s norm
    sums when the caller scores the same ``b`` against several rows."""
    import numpy as np

    an_q = _fixed_point_sums(a, a)
    if bn_q is None:
        bn_q = _fixed_point_sums(b, b)
    dot_q = _fixed_point_sums(a, b)
    return dot_q.astype(np.float64) / (
        np.sqrt(an_q.astype(np.float64)) * np.sqrt(bn_q.astype(np.float64))
    )


def brute_force_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = MAX_BROADCAST_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    The query matrix broadcasts to every executor once (Python closure →
    one copy per worker), each corpus Arrow batch scores against ALL
    queries in numpy (``_exact_cosine``), and a per-batch partial top-k
    keeps only k+1 candidates per query before the final window — a
    flatMap over corpus batches plus one merge, so the corpus never
    shuffles vectors and per-row work is a numpy pass, not an
    interpreted expression fold. Integer fixed-point sums make the
    scores order-independent, so the DuckDB oracle hash-matches at any
    parallelism. Self-matches excluded; the per-batch cut sorts by
    (−cos, neighbor_id), matching the final window's tie-break, so
    pruning can never drop a tie the global ranking would keep.

    The query side is DRIVER-MATERIALIZED by design (it becomes the
    broadcast matrix), so it is explicitly bounded: above
    ``max_query_rows`` the call fails fast with a routing message
    instead of silently OOMing the driver. The bound check scans at most
    ``max_query_rows + 1`` rows (limit pushdown), not the whole query
    table."""
    import numpy as np
    import pandas as pd

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(corpus_df.sparkSession)
    _fail_fast_over(
        queries_df,
        max_query_rows,
        f"brute_force_topk: queries_df has more than {max_query_rows} "
        f"rows; the query side is broadcast to every executor and "
        f"driver-materialized, so it must stay small. For a large query "
        f"set use the symmetric distributed paths: ivf_topk (bucketed "
        f"probe join) or srp_lsh_topk (band join).",
    )
    q_pdf = queries_df.select(id_col, vec_col).toPandas()
    q_ids = q_pdf[id_col].to_numpy()
    q_mat = np.array(q_pdf[vec_col].tolist(), dtype=np.float64)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cn_q = _fixed_point_sums(mat, mat)
            kk = min(k + 1, len(ids))
            qcol, ncol, ccol = [], [], []
            for qid, q in zip(q_ids, q_mat):
                cos = _exact_cosine(q, mat, cn_q)
                # k+1: the query itself may be in this batch at cos=1 and
                # is filtered below; cut order (−cos, id) == final window
                top = np.lexsort((ids, -cos))[:kk]
                top = top[ids[top] != qid]
                qcol.append(np.full(len(top), qid, dtype=np.int64))
                ncol.append(ids[top])
                ccol.append(cos[top])
            if qcol:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(qcol),
                        "neighbor_id": np.concatenate(ncol),
                        "cos_sim": np.concatenate(ccol),
                    }
                )

    scored = corpus_df.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = MAX_EXACT_PAIRS_ROWS,
) -> DataFrame:
    """EXACT all-pairs embedding near-dup: (id_a < id_b, cos_sim ≥
    threshold) with the same fixed-point arithmetic as brute_force_topk —
    integer dot products, engine-exact, oracle-able (the .5-tie rounding
    is replicated exactly, see _round_half_away).

    This is the audit/ground-truth form: O(N²) pair work. Plan: the
    PACKED vectors broadcast once (N·dim·4 B — audit-scale by
    definition), the probe side is spread across cores and generates its
    vid_a < vid_b pairs map-side, and each Arrow batch of pairs scores
    in one vectorized numpy pass (``_exact_cosine``), pipelined in the
    same stage — no shuffle at all until the thresholded output. The
    round-2 form (an exploded broadcast pos-join + 128M-row partial
    aggregation) measured 13 s at 2000×64; this form does the identical
    arithmetic in ~3 s, and only threshold survivors leave the stage.
    Fine for a bounded corpus slice or for validating the approximate
    path; the 10⁹-vector production path is cosine_near_dup_pairs
    (SRP-LSH buckets), which this function's exact scores calibrate.

    "Audit-scale by definition" is now ENFORCED, not assumed (round-4
    verdict item #1): above ``max_rows`` corpus rows the call fails fast
    with a routing message instead of broadcasting an unbounded corpus
    into every executor (and scoring O(N²) pairs). The check scans at
    most cap+1 rows via limit pushdown."""
    import numpy as np
    import pyarrow as pa

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    packed = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    _fail_fast_over(
        packed,
        max_rows,
        f"cosine_pairs_exact: the corpus exceeds {max_rows} rows; this "
        f"audit form broadcasts the ENTIRE packed corpus to every executor "
        f"and scores O(N²) pairs, so it must stay small. For a large "
        f"corpus use the bucketed production path cosine_near_dup_pairs "
        f"(SRP-LSH bands) and calibrate it on a bounded slice of this "
        f"function's exact output.",
    )
    # spread the probe: a one-file scan is a single task and would run
    # the whole O(N²) scoring serially while the other cores idle
    probe = packed.repartition(df.sparkSession.sparkContext.defaultParallelism)
    pairs = probe.alias("l").join(
        F.broadcast(packed.alias("r")), F.col("l.vid") < F.col("r.vid")
    ).select(
        F.col("l.vid").alias("id_a"),
        F.col("r.vid").alias("id_b"),
        F.col("l.vec").alias("va"),
        F.col("r.vec").alias("vb"),
    )
    thr = float(threshold)

    def score_batches(batches):
        for batch in batches:
            ida, idb = batch.column(0), batch.column(1)
            n = len(ida)
            if n == 0:
                continue
            a = batch.column(2).flatten().to_numpy(zero_copy_only=False)
            b = batch.column(3).flatten().to_numpy(zero_copy_only=False)
            cos = _exact_cosine(
                a.astype(np.float64).reshape(n, -1),
                b.astype(np.float64).reshape(n, -1),
            )
            keep = cos >= thr
            yield pa.RecordBatch.from_arrays(
                [
                    ida.filter(pa.array(keep)),
                    idb.filter(pa.array(keep)),
                    pa.array(cos[keep], pa.float64()),
                ],
                ["id_a", "id_b", "cos_sim"],
            )

    return pairs.mapInArrow(
        score_batches, "id_a long, id_b long, cos_sim double"
    )


def _rescore_candidates(
    cand: DataFrame,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine for an explicit (query_id, neighbor_id) candidate
    set, scored by the same kernel as brute_force_topk
    (``_exact_cosine``) — bit-equal to the exact baseline, including
    exact .5 rounding ties (_round_half_away replicates SQL ROUND
    semantics exactly). Join
    order is the scale decision: candidates join
    the PACKED vectors by id first (≤ ~0.5 KB/row moves; AQE broadcasts
    the vector side when it fits), THEN each Arrow batch scores its
    pairs in ONE vectorized numpy pass — elementwise products + int64
    row sums, no explode, no per-pair aggregation state. The round-2
    explode+groupBy form was codegen'd but still paid |cand|·dim row
    materialization and a |cand|-group hash aggregate: measured 18.3 s
    for 925 k candidates × 64 dims at sf0.1; this form does the same
    arithmetic in ~2 s and is flat map-only after the id joins."""
    import numpy as np
    import pyarrow as pa

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    va = (queries_df if queries_df is not None else df).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("va")
    )
    vb = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"))
    j = cand.join(va, "query_id").join(vb, "neighbor_id").select(
        "query_id", "neighbor_id", "va", "vb"
    )

    def score_batches(batches):
        for batch in batches:
            qid, nid = batch.column(0), batch.column(1)
            n = len(qid)
            if n == 0:
                continue
            a = batch.column(2).flatten().to_numpy(zero_copy_only=False)
            b = batch.column(3).flatten().to_numpy(zero_copy_only=False)
            cos = _exact_cosine(
                a.astype(np.float64).reshape(n, -1),
                b.astype(np.float64).reshape(n, -1),
            )
            yield pa.RecordBatch.from_arrays(
                [qid, nid, pa.array(cos, pa.float64())],
                ["query_id", "neighbor_id", "cos_sim"],
            )

    return j.mapInArrow(
        score_batches, "query_id long, neighbor_id long, cos_sim double"
    )


def srp_sketch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 16,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Signed-random-projection sketch → (id, srp): ``bits`` seeded
    hyperplanes applied as ONE numpy GEMM per Arrow batch (mapInArrow),
    signs packed into a long. Map-only — no shuffle, no per-element
    Python, pipelined with the scan.

    Round 2 shipped this as 16 ``zip_with``+``aggregate`` folds per row
    — the interpreted-expression-path pattern this repo measured 5-39×
    slow everywhere else (round-2 verdict "What's wrong" #1). The
    prescribed codegen'd unrolled rewrite turned out WORSE, not better,
    when measured: 16×64 literal terms cost ~18 s of py4j calls just to
    BUILD the plan and blow janino's 64 KB method limit, so codegen
    falls back to interpreted anyway (measured 7.6 s vs HOF 0.44 s at
    sf0.1). The GEMM form measured 0.35 s at sf0.1 and is the one that
    scales: per-batch matmul amortizes to ~ns/element at 10⁹ vectors
    (the per-batch numpy pattern of brute_force_topk), while any
    expression form pays per-row interpreter or py4j overhead.

    Deterministic: planes come from a seeded RNG; each bit is the sign
    of a fixed-length (k = dim) dot product, so a vector's sketch does
    not depend on which batch it lands in up to last-ulp BLAS kernel
    edges. Callers that consume the sketch on two join sides spill it
    once (materialize.spill_to_parquet) so both sides read identical
    bits — also the 10⁹-vector design, where the sketch is a bucketed
    table built once per corpus, not recomputed per query.

    Pass ``dim`` explicitly to keep plan construction action-free; the
    ``.first()`` fallback exists only for ad-hoc use. Vectors must be
    non-null with length ≥ dim (extra components are ignored)."""
    import numpy as np
    import pyarrow as pa

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    rng = np.random.default_rng(seed)
    if dim is None:  # pragma: no cover - callers pass dim
        dim = len(df.select(vec_col).first()[0])
    planes_t = rng.standard_normal((bits, dim)).T.copy()  # (dim, bits)
    shifts = np.arange(bits, dtype=np.int64)

    def sketch_batches(batches):
        for batch in batches:
            ids = batch.column(0)
            if len(ids) == 0:
                continue
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            mat = flat.astype(np.float64).reshape(len(ids), -1)[:, :dim]
            packed = (((mat @ planes_t) > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(packed, pa.int64())], [id_col, "srp"]
            )

    return df.select(id_col, vec_col).mapInArrow(
        sketch_batches, f"{id_col} long, srp long"
    )


def _srp_band_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int,
    bands: int,
    seed: int,
    dim: int | None,
    symmetric: bool,
) -> DataFrame:
    """SRP sketch → band buckets → candidate (query_id, neighbor_id)
    pairs. The sketch (16 B/row) is materialized ONCE to a temp parquet
    table and both self-join sides scan it back — the cluster-scale
    "checkpoint to a bucketed table" form, and it leaves no persisted
    RDDs behind in the caller's session (round-2 advice: the old
    ``.persist()`` here had no owner; pinned by
    tests/test_similarity.py::test_lsh_leaves_no_persisted_rdds).
    ``symmetric=True`` emits both (a,b) and (b,a) (top-k per query);
    ``False`` emits canonical a<b pairs (near-dup).

    ``bits="auto"`` applies SCALE.md's sketch-width rule operationally:
    per-band collision probability for unrelated vectors is ~2^-r
    (r = bits/band), so r is set to ~log2(N) to keep expected random
    candidates ≈ bands·N²/2^r linear in N (measured: FIXED 16-bit at
    10× data scaled 64×; 28-bit scaled 7.2× — the SCALE.md table). The
    one ``count()`` is an index-build action, same class as the spill
    below."""
    from blow_spark.materialize import spill_to_parquet

    if bits == "auto":
        import math

        n = df.count()
        r = min(15, max(4, math.ceil(math.log2(max(n, 2)))))
        bits = bands * r
    bits_per_band = bits // bands
    mask = (1 << bits_per_band) - 1
    sk = spill_to_parquet(
        srp_sketch(df, id_col, vec_col, bits=bits, seed=seed, dim=dim),
        "blow_spark_srp_",
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("srp", b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sk.select(F.col(id_col).alias("vid"), F.explode(band_arr).alias("bb")).select(
        "vid", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    l, r = banded.alias("l"), banded.alias("r")
    pair_cond = (
        (F.col("l.vid") != F.col("r.vid"))
        if symmetric
        else (F.col("l.vid") < F.col("r.vid"))
    )
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & pair_cond,
        )
        .select(F.col("l.vid").alias("query_id"), F.col("r.vid").alias("neighbor_id"))
        .distinct()
    )


def lsh_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | str = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: SRP sketch → band buckets → exact
    cosine re-rank within candidates. Recall grows with bands; work is
    O(Σ bucket²) instead of O(N²). ``bits="auto"`` scales the sketch
    width to the corpus (r ≈ log2 N per band — the SCALE.md rule). The bucket self-join carries only
    (id, band, chunk) — 8-byte sketch chunks, never vectors; candidates
    re-rank through the vectorized fixed-point scorer by id."""
    cand = _srp_band_candidates(
        df, id_col, vec_col, bits, bands, seed, dim, symmetric=True
    )
    scored = _rescore_candidates(cand, df, id_col=id_col, vec_col=vec_col)
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | str = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos ≥ threshold) via
    the SRP bucket path — high-cosine pairs collide in ≥1 band w.h.p.
    Buckets join on (id, band, chunk) only; exact scores come from the
    vectorized fixed-point re-rank by id, matching cosine_pairs_exact on
    real-valued data (half-even vs half-up rounding differs only on exact
    decimal halves — measure-zero)."""
    cand = _srp_band_candidates(
        df, id_col, vec_col, bits, bands, seed, dim, symmetric=False
    )
    return (
        _rescore_candidates(cand, df, id_col=id_col, vec_col=vec_col)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cos_sim",
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) index — the other scale path besides SRP-LSH
# --------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    n_clusters: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build a deterministic IVF index: (assignments, centroids).

    Seeds are the ``n_clusters`` vectors with the smallest xxhash64(id) —
    reproducible without RNG state. ``lloyd_iters`` k-means rounds follow:
    each round is ONE map-only corpus pass (``_assign_centroid_partials``)
    that assigns every vector to its nearest centroid with a numpy GEMM
    against the K×dim centroid table and emits per-batch partial
    component sums, then a K·dim-row aggregate recomputes the centroid
    means — no driver-side matrices beyond the centroid table itself.

    Scale: K·N distance evaluations per iteration dominate; at 10⁹
    vectors the assignment is the batch-scoring pattern (ship the K×dim
    table in the task closure, one scan per iteration)."""
    unit = with_unit_norm(df, vec_col, "uv").select(
        F.col(id_col).alias("vid"), F.col("uv")
    )
    centroids = (
        unit.withColumn("hk", F.xxhash64(F.col("vid")))
        .orderBy("hk")
        .limit(n_clusters)
        .select(F.monotonically_increasing_id().alias("cid"), F.col("uv").alias("cv"))
    )
    # k-means on the unit sphere: argmax cosine == argmin euclidean.
    # Each iteration's centroid table (K rows) is materialized to a
    # literal frame: the K·dim result is driver-trivial, and without it
    # every later consumer (next iteration's scorer, the final
    # assignment, the probe scorer) re-runs the whole corpus
    # scan+assign+aggregate plan from scratch (measured as part of the
    # 10.9 s → 3.5 s ivf_topk rewrite at sf0.1).
    spark = df.sparkSession
    for _ in range(lloyd_iters):
        # Round-15 fused assign+update (guide §2.1 "remove unnecessary
        # passes"): ONE map-only corpus pass emits per-batch partial
        # (cid, pos, sum, count) rows — K·dim rows per Arrow batch —
        # instead of assigning (pass 1), joining the assignment back to
        # the corpus by vid (pass 2 + a corpus shuffle) and exploding
        # N·dim (cid, pos, x) rows into the mean aggregate. The mean is
        # the same Σx/n (float addition reassociates across partials,
        # exactly as the previous hash aggregate's partial sums did —
        # neither form pins an addition order); every downstream gate
        # on the k-means geometry is margin-based, not float-pinned.
        partials = _assign_centroid_partials(unit, centroids)
        centroids = (
            partials.groupBy("cid", "pos")
            .agg((F.sum("s") / F.sum("n")).alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cid", F.transform(F.col("pm"), lambda s: s["m"]).alias("cv"))
        )
        centroids = spark.createDataFrame(
            centroids.toPandas(), "cid long, cv array<double>"
        )
    return _nearest_centroids(unit, centroids, 1), centroids


def _assign_centroid_partials(unit: DataFrame, centroids: DataFrame) -> DataFrame:
    """One fused Lloyd pass: per Arrow batch, assign each unit vector to
    its nearest centroid (same GEMM + first-argmax/lowest-cid tie-break
    as ``_nearest_centroids`` with top=1) and emit the batch's partial
    per-cluster component sums — (cid, pos, s, n) with K·dim rows per
    batch — so the centroid mean aggregate runs over K·dim·n_batches
    rows instead of N·dim, and the corpus is scanned ONCE per iteration
    with no vid join."""
    import numpy as np
    import pyarrow as pa

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(unit.sparkSession)
    cents = centroids.orderBy("cid").toPandas()
    cid_arr = cents["cid"].to_numpy().astype(np.int64)
    cmat = np.array(cents["cv"].tolist(), dtype=np.float64).T  # (dim, K)

    def partials(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            mat = (
                batch.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, -1)
            )
            sims = mat @ cmat  # (n, K)
            # first max == stable argsort(-sims)[:, 0]: lowest cid wins
            # ties (cid_arr is cid-ascending), matching _nearest_centroids
            best = np.argmax(sims, axis=1)
            k, dim = cmat.shape[1], mat.shape[1]
            sums = np.zeros((k, dim), dtype=np.float64)
            np.add.at(sums, best, mat)
            counts = np.bincount(best, minlength=k).astype(np.int64)
            live = np.flatnonzero(counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(cid_arr[live], dim), pa.int64()),
                    pa.array(np.tile(np.arange(dim, dtype=np.int32), len(live)), pa.int32()),
                    pa.array(sums[live].ravel(), pa.float64()),
                    pa.array(np.repeat(counts[live], dim), pa.int64()),
                ],
                ["cid", "pos", "s", "n"],
            )

    return unit.select("vid", "uv").mapInArrow(
        partials, "cid long, pos int, s double, n long"
    )


def _nearest_centroids(unit: DataFrame, centroids: DataFrame, top: int) -> DataFrame:
    """(vid, cid) rows: each vector's ``top`` nearest centroids by dot
    product against the K×dim centroid matrix, one numpy GEMM per Arrow
    batch. The centroid table is vocabulary-sized (K·dim floats), so it
    ships in the task closure — the same posture as brute_force_topk's
    query matrix; scoring is map-only, the corpus never shuffles. Ties
    break to the lowest cid (stable argsort over cid-ascending columns),
    matching the window form this replaces — which scored K·N dot
    products through interpreted HOF folds, the round-2-flagged pattern,
    and then paid a per-vid window sort (part of the ivf_topk rewrite
    measured 10.9 s → 3.5 s at sf0.1 together with the normalize and
    centroid-materialization fixes). Each Lloyd iteration's
    ``toPandas`` of K rows also truncates the centroid lineage, so the
    iterative plan never nests."""
    import numpy as np
    import pyarrow as pa

    from blow_spark.shipping import ensure_package_shipped

    ensure_package_shipped(unit.sparkSession)
    cents = centroids.orderBy("cid").toPandas()
    cid_arr = cents["cid"].to_numpy().astype(np.int64)
    cmat = np.array(cents["cv"].tolist(), dtype=np.float64).T  # (dim, K)

    def assign(batches):
        for batch in batches:
            ids = batch.column(0)
            n = len(ids)
            if n == 0:
                continue
            mat = (
                batch.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, -1)
            )
            sims = mat @ cmat  # (n, K)
            k = min(top, sims.shape[1])
            order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            vids = np.repeat(ids.to_numpy(zero_copy_only=False), k)
            cids = cid_arr[order].ravel()
            yield pa.RecordBatch.from_arrays(
                [pa.array(vids, pa.int64()), pa.array(cids, pa.int64())],
                ["vid", "cid"],
            )

    return unit.select("vid", "uv").mapInArrow(assign, "vid long, cid long")


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k through the IVF index: each query probes its
    ``n_probe`` nearest centroids and re-ranks exactly within those
    clusters only — work drops from O(Q·N) to O(Q·N·n_probe/K) expected.
    The probe join is (query → probed cid) ⋈ (cid → members): an
    equi-join on cluster id that Catalyst shuffles by cid, so cluster
    member lists never replicate per query. ``queries_df`` restricts the
    query side (default: all vectors = all-pairs)."""
    assigned, centroids = ivf_assign(df, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col)
    q_unit = (
        None
        if queries_df is None
        else with_unit_norm(queries_df, vec_col, "uv").select(F.col(id_col).alias("vid"), "uv")
    )
    if q_unit is None:
        q_unit = with_unit_norm(df, vec_col, "uv").select(F.col(id_col).alias("vid"), "uv")
    # each query's n_probe nearest centroids — same GEMM scorer as the
    # build; no persist needed: assignment lineage is one map stage over
    # the scan (centroids ride the closure)
    probes = _nearest_centroids(q_unit, centroids, n_probe).select(
        F.col("vid").alias("query_id"), "cid"
    )
    members = assigned.select("cid", F.col("vid").alias("neighbor_id"))
    cand = (
        probes.join(members, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    rescored = _rescore_candidates(
        cand,
        df,
        id_col=id_col,
        vec_col=vec_col,
        queries_df=queries_df,
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023 — public
    literature): embedding-space dedup made tractable by k-means
    bucketing. Pipeline: deterministic IVF k-means assignment
    (ivf_assign) → WITHIN-cluster exact all-pairs cosine (the
    vectorized fixed-point scorer, candidates generated by a cid
    self-join so pair work is O(Σ cluster²), never O(N²)) → connected
    components over the ≥ threshold edges → keep the min-id exemplar
    per component (singletons keep themselves).

    Returns ``(decisions, scored)``: decisions = (vec_id, cid, comp,
    keep) for every input vector; scored = every within-cluster pair
    with its exact cosine (spilled once — reused by callers for
    verification, e.g. the registered query's proof bits).

    Scale contract: cluster granularity is the knob — pick n_clusters ≈
    N / target_cluster_size so per-cluster pair counts stay bounded;
    the cid self-join shuffles by cid (AQE skew-split catches hot
    clusters), the scorer is map-only after the id joins, and the CC
    edge set is ∝ near-dup pairs, not vectors. This is exactly the
    SemDeDup argument: clustering turns an impossible O(N²) into
    per-bucket work."""
    from blow_spark import dedup as _dedup
    from blow_spark.materialize import spill_to_parquet

    assigned, _cent = ivf_assign(
        df, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col
    )
    # Round-15: the final assignment is referenced three times below
    # (both candidate self-join sides + the decisions join); lazy, each
    # reference re-ran the normalize+GEMM corpus pass. Spill once —
    # (vid, cid) is the bucketed IVF intermediate the cluster design
    # stores anyway.
    assigned = spill_to_parquet(
        assigned.select("vid", "cid"), "blow_spark_semdedup_asg_"
    )
    a = assigned.select(F.col("vid").alias("query_id"), F.col("cid").alias("_ca"))
    b = assigned.select(F.col("vid").alias("neighbor_id"), F.col("cid").alias("_cb"))
    cand = a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("query_id") < F.col("neighbor_id"))).select(
        "query_id", "neighbor_id"
    )
    scored = spill_to_parquet(
        _rescore_candidates(cand, df, id_col=id_col, vec_col=vec_col),
        "blow_spark_semdedup_",
    )
    edges = scored.filter(F.col("cos_sim") >= threshold).select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    comp = _dedup.connected_components(edges)
    decisions = (
        assigned.select("vid", "cid")
        .join(comp, assigned.vid == comp.node, "left")
        .select(
            "vid",
            "cid",
            F.coalesce(F.col("comp"), F.col("vid")).alias("comp"),
        )
        .withColumn("keep", (F.col("comp") == F.col("vid")).cast("int"))
    )
    return decisions, scored
