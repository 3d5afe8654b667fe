"""Deduplication operators for training-data pipelines.

Four families, each designed around its 100 TB shuffle profile:

* **exact** — hash-groupBy on a 16-byte content digest: the shuffle carries
  digests + ids, never document bodies.
* **MinHash + LSH** — shingle → k minhashes → b bands → band-bucket
  equi-join; candidate generation is a normal hash join Catalyst can plan,
  then an exact-Jaccard re-rank on the (small) candidate set.
* **SimHash** — 64-bit sketch via explode + one aggregation, Hamming-band
  bucketing (pigeonhole), exact Hamming filter with bit_count(xor).
* **exact n-gram Jaccard** — rare-shingle blocking + exact set overlap;
  quadratic only within blocks; the ground truth the sketches are
  validated against in tests/test_dedup.py.
* **clustering** — connected components over near-dup pairs (iterative
  min-label propagation), turning pairwise hits into keep/drop groups.
* **exact substring / span excision** — character windows (exact, hash
  then verify) or token n-grams (positional blocking) seen ``min_count``
  times across the corpus are cut out of every document.

The reference implements no dedup (SURVEY.md §2.2 "Extension ops"); these
are first-class operators of this engine. Above a size
cutoff all candidate generation is built-in DataFrame ops, with no
Python per row. Two operators also have a one-task path for inputs at or
below their cutoff, where the whole input fits one Python worker and the
distributed plan's per-job scheduling floor costs more than the work:
connected_components (union-find, ``ops.LOCAL_EDGE_CUTOFF`` edges) and
exact_substring_excise (numpy window hashing, ``LOCAL_CHAR_CUTOFF``
characters).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from blow_spark.functions import tokenize_ws, word_shingles


#: Volume rule for spreading a SPILLED verify-candidate scan (round-15,
#: round-14 verdict item #1): one partition per this many candidate
#: PAIRS. Rows, not bytes: the verify work is per-pair (one
#: array_intersect over ~10²-hash sets ≈ 6-7 µs measured at sf0.1),
#: while parquet FILE bytes under-count it badly — sorted id pairs
#: delta/dictionary-compress several-fold, and an A/B against the
#: round-14 blanket spread showed the byte rule under-fanning ppjoin/
#: estimate-error by 3-4× (their verify ran 3 tasks where 32 were
#: profitable). 16384 pairs ≈ 100-130 ms per task: large enough to
#: amortize scheduling, small enough that ~0.5 M pairs engages a
#: 32-way session. Row counts come from parquet FOOTER metadata —
#: driver-side, no job, exact. Env-overridable for cluster tuning,
#: same posture as BLOW_SPARK_STREAM_STATE_PARTITIONS.
import os as _os

_SPREAD_PAIRS_PER_PART = int(
    _os.environ.get("BLOW_SPARK_SPREAD_PAIRS_PER_PART", str(16384))
)


def _spread(df: DataFrame, per_part_rows: int | None = None) -> DataFrame:
    """Ensure at least default-parallelism partitions before CPU-heavy
    per-row work (shingling, hashing). A small parquet file scans as ONE
    task — measured 8 s single-threaded shingling at sf0.1 that the rest
    of the machine sat out. The round-robin shuffle of raw rows is cheap
    relative to that. At 100 TB inputs already have thousands of
    partitions and this no-ops.

    The probe is driver-side only (file listing + stat): no RDD
    conversion, no physical planning, no job. Estimated scan parallelism
    = ceil((input_bytes + n_files·openCostInBytes) / maxPartitionBytes)
    — Spark charges each file openCostInBytes when PACKING files into
    splits, so N tiny files still coalesce into ~N·4 MB/128 MB ≈ 1 task
    (round-14: the pre-packing estimate `max(n_files, bytes/max_pb)`
    treated an 8-tiny-file spill as already 8-wide and no-oped while the
    scan actually ran single-task); non-file sources (in-memory test
    frames) fall back to repartitioning in the blanket mode and pass
    through in the volume mode below, and non-local storage passes
    through (at that scale inputs are already wide).

    ``per_part_rows`` (round-15, round-14 verdict item #1) makes the
    fan-out VOLUME-PROPORTIONAL instead of a blanket jump to default
    parallelism: the target becomes clamp(ceil(rows / per_part_rows),
    1, parallelism) with the row count read from the parquet footers
    (driver-side, no job), and when the target is 1 the call no-ops —
    a few-thousand-pair candidate set no longer pays a round-robin
    exchange plus 32 task schedulings for ~30 ms of intersect work.
    Used by the spilled verify-candidate call sites, where the per-ROW
    verify cost is near-constant (one set intersection); the corpus
    call sites keep the blanket spread (per-row shingling cost there is
    text-length-bound). Without input files there is no footer to size
    from, so the volume mode returns the frame unchanged — its call
    sites always pass spilled scans."""
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # createDataFrame / non-file source: tiny in practice — spread it
        # in the blanket mode; the volume mode has no row count to size by
        return df if per_part_rows is not None else df.repartition(target)
    total = 0
    for f in files:
        path = urlparse(f).path or f
        try:
            total += os.path.getsize(path)
        except OSError:
            return df  # non-local FS: assume the scan is already wide
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    max_pb = _parse_bytes(raw)
    open_cost = _parse_bytes(
        str(spark.conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    )
    est_parts = -(-(total + len(files) * open_cost) // max_pb)
    if per_part_rows is not None:
        try:
            import pyarrow.parquet as _pq

            rows = sum(
                _pq.read_metadata(urlparse(f).path or f).num_rows
                for f in files
                if not f.endswith("_SUCCESS")
            )
        except Exception:
            return df  # unreadable footers: leave the scan alone
        target = min(target, -(-rows // per_part_rows))
    if est_parts < target and target > 1:
        return df.repartition(target)
    return df


def _parse_bytes(raw: str) -> int:
    """Parse a Spark byte-size conf value ("134217728", "134217728b",
    "128m", "1g", ...) — the round-2 digit-only parser silently fell back
    to the 128 MB default for any size-suffixed setting, skewing the
    scan-parallelism estimate (ADVICE r2). Suffix table matches Spark's
    JavaUtils.byteStringAsBytes."""
    s = raw.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return 134217728


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical (normalized) texts: (text_hash, keep_id, n_copies).
    keep_id = lowest id per group — the canonical survivor."""
    h = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def drop_exact_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return df minus non-canonical duplicates (keeps lowest id per hash).
    Implemented as min-id-per-hash + semi-join back, so full rows never
    shuffle — only (hash, id) pairs do."""
    keep = exact_dedup_groups(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


# Universal-hash family over the prime field p = 2^31 - 1: each shingle is
# string-hashed ONCE (xxhash64 → residue mod p), then the k minhash
# functions are affine permutations h_i(x) = (a_i·x + b_i) mod p. a_i, b_i
# fit in 31 bits so a_i·x + b_i < 2^62 — no long overflow under ANSI mode.
#
# Physical form: explode shingles → hash → groupBy(doc).agg(k MIN columns).
# The k aggregates are plain codegen'd arithmetic with map-side partial
# aggregation, so each task emits one k-wide row per local doc — the shuffle
# carries signatures, not shingles. (Two rejected forms, both measured far
# slower: k×array_min(transform(...)) re-inlines the string hash k times
# after CollapseProject; a fold with a zip_with accumulator evaluates every
# lambda on the interpreted expression path — higher-order functions do not
# whole-stage-codegen.) Seeds are fixed → signatures are deterministic.
_MERSENNE_P = (1 << 31) - 1


def _perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]


def _signature_agg(base: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, shingles) → (doc, mh_0..mh_{k-1}) via explode + k min-aggs."""
    p = F.lit(_MERSENNE_P)
    exploded = base.select("doc", F.explode("shingles").alias("g")).select(
        "doc", F.pmod(F.xxhash64("g"), p).alias("h")
    )
    return exploded.groupBy("doc").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), p)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
        ]
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 64, shingle_n: int = 3
) -> DataFrame:
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    sig = _signature_agg(base, num_hashes)
    return sig.select(
        F.col("doc").alias(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("minhash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_docs: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Band tuning: the S-curve midpoint is (1/b)^(1/r); 16 bands × 4 rows
    puts it at (1/16)^(1/4) ≈ 0.5 — matched to the default threshold.
    (8×8 would sit at ≈0.77 and silently miss most 0.5-similar pairs.)

    Stage 1 (candidates): signature → b band-hashes → explode to
    (band_idx, band_hash) → self equi-join. The join key is 16 bytes/row ×
    b rows/doc; at 100 TB of text this shuffles ~b·16B per doc, not text.
    Band-buckets larger than ``max_bucket_docs`` are dropped BEFORE the
    self-join: one boilerplate bucket of m identical docs would otherwise
    emit m²/2 candidates (the known pathology on real crawls — a single
    10⁶-doc template bucket is 5·10¹¹ pairs). The guard is one cheap
    aggregation over the 16-byte band keys (map-side combined) producing
    the OVERSIZED bucket list — bounded by N·bands/cap rows, i.e. tiny —
    broadcast anti-joined against the banded rows: no extra shuffle of
    the data. Docs whose every bucket is boilerplate-sized are EXACT
    duplicates of thousands of others and belong to exact dedup, which
    handles them in linear time.
    Stage 2 (verify): exact Jaccard on distinct shingle sets, only for
    candidates (AQE skew-join splits any surviving hot key).
    """
    rows_per_band = num_hashes // bands
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    # Cache `base` (feeds the signature pipeline AND the verify-set
    # build — shingling would otherwise recompute per consumer) and `sig`
    # (one k-long row per doc, ~0.5 KB/doc: three consumers — the bucket
    # census and both self-join sides — would otherwise each re-run the
    # 64-min-agg signature pass, the most expensive stage in the plan;
    # caching it measured 47 s → 11 s at sf0.1). Both caches are
    # OPERATOR-SCOPED (materialize.reused): the candidate set and the
    # candidate shingle-hash sets are spilled to temp parquet below and
    # the caches freed when the block exits, also on an exception, so
    # nothing leaks into the caller's long-lived session (pinned by
    # tests/test_dedup.py::test_minhash_lsh_leaves_no_persisted_rdds and
    # ::test_minhash_lsh_raising_leaves_no_persisted_rdds).
    # The EXPLODED banded form is deliberately not persisted — b rows/doc
    # costs more to materialize than the projection recompute. At cluster
    # scale the spills ARE the design: signatures/candidates land in
    # bucketed tables on shared storage, not executor memory.
    from blow_spark.materialize import reused

    with reused(base) as base, reused(_signature_agg(base, num_hashes)) as sig:
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)])).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
        banded = sig.select("doc", F.explode(band_arr).alias("bb")).select(
            "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        oversized = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket_docs)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")
        left = banded.alias("l")
        right = banded.alias("r")
        candidates = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.doc") < F.col("r.doc")),
            )
            .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
            .distinct()
        )
        return _verify_spilled(candidates, base, threshold)


def _verify_spilled(candidates: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """Materialize candidates and their shingle-hash sets to temp parquet
    and return the lazy exact-Jaccard verify over the spilled tables.

    Sequencing is the lifecycle fix: (1) spilling candidates runs the
    expensive signature/bucket stages once while the caller's caches
    are live; (2) the shingle-hash sets are built from ``base``
    restricted by semi-join to candidate docs only — the spill is
    O(candidates), not O(corpus); (3) the returned plan reads only the
    two spills, so the caller's ``reused`` block can free its caches as
    this returns: two small parquet scans + one join, and the caller's
    session holds no hidden cache. At 100 TB the two spills are the
    bucketed intermediate tables the cluster design calls for."""
    from blow_spark.materialize import spill_to_parquet

    cand = spill_to_parquet(candidates, "blow_spark_lsh_cand_")
    ids = (
        cand.select(F.col("id_a").alias("doc"))
        .union(cand.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    hashed = (
        base.select("doc", F.explode("shingles").alias("g"))
        .select("doc", F.xxhash64("g").alias("h"))
        .join(ids, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_list("h").alias("hs"), F.count("*").alias("n_sh"))
    )
    hashed = spill_to_parquet(hashed, "blow_spark_lsh_sets_")
    # Round-14 (guide §2.5 "input skew: one huge unsplittable file"): the
    # spilled candidate table is a few MB of (id_a, id_b) longs — one
    # parquet split — and Catalyst broadcasts it while STREAMING the
    # (equally tiny) per-doc set table, so the per-pair set
    # intersections — the real compute of the verify stage — all ran in
    # a single task (measured 2.6 s steady-state at sf0.1 for 409 k
    # candidates in dedup_jaccard_prefix_filter while 31 cores idled).
    # Spreading the candidate SCAN fans the intersection work out; at
    # 100 TB the table is thousands of splits and _spread no-ops. Only
    # the spilled scan is spread — _verify_jaccard's lazy-plan callers
    # (the incremental index path) measured SLOWER with a repartition
    # barrier inside their live plan. Round-15: the fan-out is sized to
    # candidate VOLUME (one partition per _SPREAD_PAIRS_PER_PART pairs)
    # — the round-14 blanket repartition(parallelism) paid a full
    # round-robin exchange even for few-thousand-pair candidate sets
    # (round-14 verdict #1).
    return _verify_jaccard(
        _spread(cand, per_part_rows=_SPREAD_PAIRS_PER_PART), hashed, threshold
    )


def _verify_jaccard(candidates: DataFrame, hashed: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard re-rank of candidate pairs against per-doc
    (hs: array<long>, n_sh) shingle-hash sets.

    The intersection runs on xxhash64(shingle) LONG sets, not the strings:
    the verify join then shuffles ~8 B/shingle instead of ~20+ B, and
    |A∪B| comes from |A|+|B|−|A∩B| instead of materializing a union array.
    A hash collision inside one candidate pair's ~10²-shingle sets would
    need a 64-bit collision (~2⁻⁵⁰ per pair) to perturb the score —
    ignored. Result is identical to string-set Jaccard (the DuckDB oracle
    computes the string form and hash-matches).

    Callers that verify from a SPILLED candidate table ``_spread`` it
    first (see ``_verify_spilled``); this function leaves lazy
    candidate plans alone — inserting a repartition barrier into the
    incremental path's live banded-join plan measured 4.6 → 8.4 s."""
    a = hashed.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a"))
    b = hashed.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_shingle_freq: int = 50,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle CONTAINMENT max(|A∩B|/|A|,
    |A∩B|/|B|) ≥ threshold — catches a short document embedded inside a
    longer one (quotes, page-with-boilerplate, article + comments),
    which symmetric Jaccard structurally misses: a 100-shingle doc fully
    contained in a 1000-shingle doc has J ≈ 0.1 but containment 1.0.
    The standard second pass of a training-corpus dedup after Jaccard.
    Same rare-shingle blocking and spilled hash-set verify as
    ngram_jaccard_pairs. RECALL CAVEAT (round-3 advice): the "contained
    pair shares ALL of the smaller doc's shingles" argument makes
    blocking lossless only at containment 1.0; at partial thresholds
    (the 0.6-0.8 defaults) a qualifying pair whose shared shingles ALL
    exceed max_shingle_freq is missed — the same known trade as
    ngram_jaccard_pairs. For a lossless candidate rule at the threshold
    use jaccard_prefix_filter_pairs (the prefix-filter generalizes to
    containment but is not implemented for it here). Output is
    (id_a < id_b, containment, direction) where direction says which
    side is the contained one ('a', 'b', or 'both' on ties)."""
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    from blow_spark.materialize import reused, spill_to_parquet

    with reused(base) as base:
        exploded = base.select("doc", F.explode("shingles").alias("g"))
        rare = exploded.groupBy("g").agg(F.count("*").alias("df_")).filter(
            F.col("df_") <= max_shingle_freq
        )
        blocked = exploded.join(rare.select("g"), "g")
        l, r = blocked.alias("l"), blocked.alias("r")
        candidates = (
            l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.doc") < F.col("r.doc")))
            .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
            .distinct()
        )
        cand = spill_to_parquet(candidates, "blow_spark_cont_cand_")
        ids = (
            cand.select(F.col("id_a").alias("doc"))
            .union(cand.select(F.col("id_b").alias("doc")))
            .distinct()
        )
        hashed = (
            base.select("doc", F.explode("shingles").alias("g"))
            .select("doc", F.xxhash64("g").alias("h"))
            .join(ids, "doc", "left_semi")
            .groupBy("doc")
            .agg(F.collect_list("h").alias("hs"), F.count("*").alias("n_sh"))
        )
        hashed = spill_to_parquet(hashed, "blow_spark_cont_sets_")
    # same single-split fix as _verify_jaccard: fan the per-pair set
    # intersections out before the verify joins (volume-sized, round 15)
    cand = _spread(cand, per_part_rows=_SPREAD_PAIRS_PER_PART)
    a = hashed.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a"))
    b = hashed.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    cont_a = inter.cast("double") / F.col("n_a").cast("double")
    cont_b = inter.cast("double") / F.col("n_b").cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.greatest(cont_a, cont_b).alias("containment"),
            F.when(cont_a == cont_b, F.lit("both"))
            .when(cont_a > cont_b, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("contained_side"),
        )
        .filter(F.col("containment") >= threshold)
    )


# --------------------------------------------------------------------------
# Incremental MinHash index (never rebuild at 100 TB)
# --------------------------------------------------------------------------


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per doc: (doc, minhash array, shingle-hash set, set size)
    — everything the LSH candidate AND verify stages need, with the
    text left behind. This is the PERSISTENT dedup index: at cluster
    scale it is written once as a table bucketed by ``doc`` (signatures
    ≈ 0.5 KB + the hashed shingle set per doc), and each ingest batch only
    APPENDS its own rows (the corpus is never re-shingled). Built in
    one pass: explode shingles → hash once → per-doc k MIN aggregates +
    collect_list in the same aggregation."""
    p = F.lit(_MERSENNE_P)
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    exploded = base.select("doc", F.explode("shingles").alias("g")).select(
        "doc", F.xxhash64("g").alias("h64")
    )
    agg = exploded.groupBy("doc").agg(
        *[
            F.min(F.pmod(F.pmod("h64", p) * F.lit(a) + F.lit(b), p)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
        ],
        F.collect_list("h64").alias("hs"),
        F.count("*").alias("n_sh"),
    )
    return agg.select(
        "doc",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("minhash"),
        "hs",
        "n_sh",
    )


def _band_rows(index: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    rows_per_band = num_hashes // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("minhash", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return index.select("doc", F.explode(band_arr).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-batch dedup against an EXISTING index without touching the
    old corpus: returns (near-dup pairs involving a new doc, the new
    docs' index rows to append).

    Candidates = (new × old) band-bucket join + (new × new) self-join —
    exactly the pairs a full rebuild would emit that involve ≥1 new doc
    (same bands, same buckets; equivalence pinned in
    tests/test_dedup.py::test_incremental_lsh_equals_full_rebuild).
    Verify joins the (tiny) new signature table and the index's stored
    shingle-hash sets by id — the old TEXT is never read, never
    shuffled, never re-shingled: per ingest batch the work is
    O(new docs + collisions), not O(corpus). At cluster scale ``index``
    is a bucketed table on ``doc``, so the verify joins are
    shuffle-free on the old side and the append is a partition add."""
    new_index = build_minhash_index(
        new_df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    from blow_spark.materialize import spill_to_parquet

    new_index = spill_to_parquet(new_index, "blow_spark_lsh_newidx_")
    b_new = _band_rows(new_index, num_hashes, bands)
    b_old = _band_rows(index, num_hashes, bands)
    cand_cross = (
        b_new.alias("l")
        .join(
            b_old.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(
            F.least(F.col("l.doc"), F.col("r.doc")).alias("id_a"),
            F.greatest(F.col("l.doc"), F.col("r.doc")).alias("id_b"),
        )
    )
    cand_new = (
        b_new.alias("l")
        .join(
            b_new.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    )
    candidates = cand_cross.union(cand_new).filter(F.col("id_a") != F.col("id_b")).distinct()
    hashed = index.select("doc", "hs", "n_sh").union(
        new_index.select("doc", "hs", "n_sh")
    )
    pairs = _verify_jaccard(candidates, hashed, threshold)
    return pairs, new_index


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document: explode tokens → xxhash64 → per-bit
    ±1 vote aggregation (one shuffle keyed by id; 64 SUMs is a single
    hash-aggregate pass) → sign-pack into a long."""
    toks = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize_ws(F.lower(F.col(text_col)))).alias("tok"),
    ).select("doc", F.xxhash64("tok").alias("h"))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    packed = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return votes.select(F.col("doc").alias(id_col), packed.alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8, bands: int = 4
) -> DataFrame:
    """Candidate pairs within Hamming distance ≤ max_hamming of each other's
    SimHash. Bucketing by 16-bit bands guarantees recall for distance <
    bands (pigeonhole); beyond that it is best-effort — standard SimHash
    practice is bands = max_hamming + 1 with narrower chunks; 4×16 bits is
    the throughput-friendly default for near-identical docs."""
    bits_per_band = 64 // bands
    sh = simhash(df, text_col, id_col).select(F.col(id_col).alias("doc"), "simhash")
    mask = (1 << bits_per_band) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sh.select("doc", "simhash", F.explode(band_arr).alias("bb")).select(
        "doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (ground truth)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    shingle_n: int = 3,
    max_shingle_freq: int = 50,
) -> DataFrame:
    """Exact word-n-gram Jaccard over blocked candidates: docs pair up iff
    they share at least one *rare* shingle (document frequency ≤
    max_shingle_freq). Rare-shingle blocking bounds the join fan-out: a
    boilerplate shingle appearing in 10^6 docs never becomes a join key.
    Any pair with J ≥ threshold shares ≥1 shingle; if all its shingles are
    ultra-common the pair is boilerplate, which the frequency cap
    deliberately excludes."""
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    from blow_spark.materialize import reused

    with reused(base) as base:
        exploded = base.select("doc", F.explode("shingles").alias("g"))
        rare = exploded.groupBy("g").agg(F.count("*").alias("df_")).filter(
            F.col("df_") <= max_shingle_freq
        )
        blocked = exploded.join(rare.select("g"), "g")
        l, r = blocked.alias("l"), blocked.alias("r")
        candidates = (
            l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.doc") < F.col("r.doc")))
            .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
            .distinct()
        )
        return _verify_spilled(candidates, base, threshold)


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact AND complete word-n-gram Jaccard join via prefix filtering
    (the AllPairs/PPJoin candidate rule, Bayardo et al. WWW'07 — public
    literature, nothing comparable in the reference, which has no joins
    at all: /root/reference/maps/maps.go ships only flatMap chains).

    Rare-shingle blocking (``ngram_jaccard_pairs``) is exact on the pairs
    it emits but can MISS a qualifying pair whose shared shingles are all
    common. Prefix filtering is lossless at the threshold: order the
    shingle vocabulary by (document frequency ASC, shingle ASC) — a total
    order shared by every doc — and keep, per doc of set size ``s``, only
    its first ``s - ceil(t*s) + 1`` shingles. Any pair with
    ``J >= t`` must overlap in ``>= ceil(t/(1+t) * (|A|+|B|))`` shingles,
    which forces the two prefixes to intersect; pairs sharing no prefix
    shingle are provably below threshold and never join. Candidates are
    then exact-verified on hashed shingle sets (``_verify_jaccard``).

    Scale shape: one shuffle to count document frequencies, one shuffle
    by doc for the per-doc rank window, then a self-join keyed ONLY on
    prefix shingles — by construction each doc's *rarest* shingles, so
    join-key fan-out is naturally bounded: boilerplate (high-frequency)
    shingles sort to the back of the order and never become join keys
    for long documents. This makes the completeness/fan-out trade of the
    frequency cap unnecessary. The completeness claim is pinned against
    a blocking-free brute-force oracle (dedup_jaccard_prefix_filter)."""
    shingles = word_shingles(F.col(text_col), shingle_n)
    base = _spread(df).select(F.col(id_col).alias("doc"), shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    from blow_spark.materialize import reused

    with reused(base) as base:
        exploded = base.select(
            "doc", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("g")
        )
        freq = exploded.groupBy("g").agg(F.count("*").alias("df_"))
        win = W.partitionBy("doc").orderBy("df_", "g")
        # Exact rational ceil(t*s), never IEEE: float ceil(0.55*100) gives 56
        # (0.55*100 = 55.000000000000007) — one shingle too short a prefix,
        # silently dropping qualifying pairs and breaking the lossless
        # guarantee. Scale the threshold to integer
        # micro-units and ceil in pure bigint arithmetic. The scaling is
        # FLOOR-biased, not rounded: t_micro ≤ t ⇒ ceil(t_micro·s/10⁶) ≤
        # ceil(t·s) ⇒ the prefix is never shorter than the AllPairs bound
        # (rounding UP would re-introduce the bug for thresholds like 2/3,
        # where round(t·10⁶)=666667 exceeds the double and can shave one
        # prefix shingle at s≡0 (mod 3)). The only cost of the floor bias
        # is an occasional one-longer prefix — more candidates, never lost
        # pairs.
        # Fraction(float) is the double's EXACT binary value, so this floor
        # is guaranteed — `math.floor(float(t) * 1e6)` computes an IEEE
        # product first, which can round UP across an integer boundary when
        # t sits within half an ulp below k/1e6, reintroducing the shaved
        # prefix in principle.
        import math
        from fractions import Fraction

        t_micro = math.floor(Fraction(float(threshold)) * 1_000_000)
        ceil_ts = F.expr(f"(CAST({t_micro} AS BIGINT) * n_sh + 999999) div 1000000")
        ranked = exploded.join(freq, "g").select(
            "doc", "g", F.row_number().over(win).alias("rn"),
            (F.col("n_sh") - ceil_ts + 1).alias("plen"),
        )
        prefix = ranked.filter(F.col("rn") <= F.col("plen")).select("doc", "g")
        l, r = prefix.alias("l"), prefix.alias("r")
        candidates = (
            l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.doc") < F.col("r.doc")))
            .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
            .distinct()
        )
        return _verify_spilled(candidates, base, threshold)


def ppjoin_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """PPJoin: the AllPairs prefix filter PLUS the length and POSITIONAL
    filters of Xiao, Wang, Lin & Yu ("Efficient Similarity Joins for
    Near Duplicate Detection", WWW 2008) — same exact-complete contract
    as ``jaccard_prefix_filter_pairs``, strictly fewer candidates
    reaching the verify join (the expensive stage at corpus scale).

    Both extra filters are LOSSLESS at the threshold:

    * length filter: J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|)
      (overlap ≤ min and overlap ≥ t/(1+t)·(|A|+|B|));
    * positional filter: at the FIRST prefix token the pair shares —
      global (df ASC, shingle ASC) order position i in A, j in B — the
      overlap is at most 1 + min(|A|−i, |B|−j) (tokens before the first
      shared one contribute nothing), which must reach
      α = ⌈t/(1+t)·(|A|+|B|)⌉. "First shared" is well-defined
      relationally: the global-order-minimal shared token minimizes
      BOTH per-doc ranks simultaneously (the rank orders are the same
      comparator restricted to each set), so MIN(rank_A) and
      MIN(rank_B) come from the same token and no argmin machinery is
      needed.

    Threshold arithmetic is the floor-biased integer-micro discipline
    of the prefix path (t_micro ≤ t ⇒ every derived bound is weaker-
    or-equal ⇒ candidates are only ever ADDED, never lost).

    Output: verified (id_a, id_b, jaccard) pairs — identical row set to
    the AllPairs path — plus in-plan audit columns ``n_cand_allpairs``,
    ``n_cand_ppjoin`` and the ``pruned_ok`` bit (ppjoin ⊆ allpairs), so
    a broken filter that silently degenerates to AllPairs (or prunes a
    qualifying pair) flips a gated value. Scale: identical shuffle
    inventory to the prefix path + one tiny pair-grain aggregate; the
    win is the verify join's input size."""
    import math
    from fractions import Fraction

    from blow_spark.materialize import reused, spill_to_parquet

    shingles = word_shingles(F.col(text_col), shingle_n)
    base = (
        _spread(df)
        .select(F.col(id_col).alias("doc"), shingles.alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    with reused(base) as base:
        exploded = base.select(
            "doc", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("g")
        )
        freq = exploded.groupBy("g").agg(F.count("*").alias("df_"))
        win = W.partitionBy("doc").orderBy("df_", "g")
        t_micro = math.floor(Fraction(float(threshold)) * 1_000_000)
        ceil_ts = F.expr(f"(CAST({t_micro} AS BIGINT) * n_sh + 999999) div 1000000")
        ranked = exploded.join(freq, "g").select(
            "doc",
            "g",
            "n_sh",
            F.row_number().over(win).alias("rn"),
            (F.col("n_sh") - ceil_ts + 1).alias("plen"),
        )
        prefix = ranked.filter(F.col("rn") <= F.col("plen")).select(
            "doc", "g", "rn", "n_sh"
        )
        l, r = prefix.alias("l"), prefix.alias("r")
        # one prefix self-join feeds the AllPairs count, the PPJoin filters,
        # and the audit comparison — spill once
        joined = spill_to_parquet(
            l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.doc") < F.col("r.doc")))
            .select(
                F.col("l.doc").alias("id_a"),
                F.col("r.doc").alias("id_b"),
                F.col("l.rn").alias("lrn"),
                F.col("r.rn").alias("rrn"),
                F.col("l.n_sh").alias("na"),
                F.col("r.n_sh").alias("nb"),
            ),
            "blow_spark_ppjoin_",
        )
        allpairs_cand = joined.select("id_a", "id_b").distinct()
        first = joined.groupBy("id_a", "id_b", "na", "nb").agg(
            F.min("lrn").alias("fr_a"), F.min("rrn").alias("fr_b")
        )
        alpha = F.expr(
            f"(CAST({t_micro} AS BIGINT) * (na + nb) + {1_000_000 + t_micro - 1})"
            f" div {1_000_000 + t_micro}"
        )
        length_ok = F.expr(
            f"1000000 * least(na, nb) >= CAST({t_micro} AS BIGINT) * greatest(na, nb)"
        )
        pos_ok = (
            1 + F.least(F.col("na") - F.col("fr_a"), F.col("nb") - F.col("fr_b"))
        ) >= alpha
        pp_cand = first.filter(length_ok & pos_ok).select("id_a", "id_b")
        n_all = allpairs_cand.agg(F.count("*").cast("bigint").alias("n_cand_allpairs"))
        n_pp = pp_cand.agg(F.count("*").cast("bigint").alias("n_cand_ppjoin"))
        verified = _verify_spilled(pp_cand, base, threshold)
    return (
        verified.crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(n_pp))
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "n_cand_allpairs",
            "n_cand_ppjoin",
            (F.col("n_cand_ppjoin") <= F.col("n_cand_allpairs")).alias("pruned_ok"),
        )
    )


# --------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# --------------------------------------------------------------------------


def _cc_local(edges: DataFrame) -> DataFrame:
    """Union-find over the whole edge list in ONE task
    (``ops._in_one_task``): path-compressed, union-by-min so every root
    IS the component's min node id — the same fixpoint the iterative
    path computes, so the two paths are interchangeable under the
    oracle. Python-loop cost is ~1 µs/edge; at the 2 M-edge cutoff that
    is ~2 s in one task, far below the per-round scheduling floor of the
    distributed loop at that size."""
    from blow_spark.ops import _in_one_task

    node_t = edges.schema["a"].dataType.simpleString()
    return _in_one_task(edges, _union_find, f"node {node_t}, comp {node_t}")


def _union_find(pdf):
    """_cc_local's task over the whole (a, b) edge frame → (node, comp)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min: the larger root points at the smaller,
            # so find() always lands on the component's min id
            parent[max(ra, rb)] = min(ra, rb)
    out = sorted(nodes)
    return pd.DataFrame({"node": out, "comp": [find(n) for n in out]})


#: Observability CONVENIENCE: which physical strategy the last
#: connected_components call picked ("local" union-find task or
#: "distributed" min-label loop) and at what measured edge count.
#: Module-global and therefore SINGLE-THREADED-ONLY — concurrent calls
#: interleave writes (round-4 advice). The race-free per-call record is
#: the ``cc_strategy`` attribute attached to each returned DataFrame;
#: assert on that under any parallelism.
LAST_CC_STRATEGY: dict = {"strategy": None, "n_edges": None}


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    local_edge_cutoff: int | None = None,
) -> DataFrame:
    """(id_a, id_b) edges → (node, comp) with comp = min node id in the
    connected component: turns pairwise near-dup hits into duplicate
    CLUSTERS (keep comp, drop the rest — the standard last step of a
    dedup pipeline).

    TWO physical strategies behind one contract, picked by measured edge
    count against the cutoff the graph loops share,
    ``ops.LOCAL_EDGE_CUTOFF`` (``local_edge_cutoff`` overrides it; 0
    forces the distributed loop) — the adaptive design a 100 TB run
    needs in the OTHER direction than usual: dedup candidate graphs are
    tiny relative to the corpus (the expensive part was producing the
    pairs; 4.1 k edges from 2 k vectors at sf0.1, and the LSH cap bounds
    bucket fan-out, so even 10⁸-doc runs usually land under it), and
    below the cutoff the distributed loop's per-round scheduling floor
    dominates by 10×+ (measured 15.5 s for a 4.1 k-edge graph that
    union-find closes in milliseconds). At or below it the graph
    collapses in one union-find task (_cc_local) whose output is spilled
    as data; past it the alternating star algorithm below engages, with
    each round a ``checkpoint_sublinear`` cut. Both compute the
    identical fixpoint (min node id per component — independent of
    strategy), so the DuckDB recursive-CTE oracle covers whichever path
    runs.

    Distributed path (round-12, replacing O(diameter) min-label
    propagation — round-11 verdict item #5): ALTERNATING LARGE-STAR /
    SMALL-STAR (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014).
    Per round, two neighborhood-min reductions rewrite the edge set:

    * large-star: every node links its LARGER neighbors to the minimum
      of its closed neighborhood — emit (v, min(Γ⁺(u))) for v ∈ Γ(u),
      v > u;
    * small-star: every node links its smaller-or-equal neighbors (and
      itself) to that minimum — emit (v, m) for v ∈ Γ≤(u) ∪ {u}, v ≠ m.

    Each operation strictly preserves connectivity (every rewritten
    edge stays within its component, by construction through the
    shared minimum), and the alternation provably converges in
    O(log² n) rounds WITH HIGH PROBABILITY REGARDLESS OF GRAPH
    DIAMETER (Kiveris et al., Thm 3; observed O(log n) in practice) —
    the production-grade bound a 100 TB dup-graph needs, where a
    path-shaped URL/bucket chain can have diameter in the millions.
    The previous label-propagation loop needed O(diameter)ish rounds
    (path halving brought it to ~log₂ diameter, but each round still
    joined the FULL edge set against the label table); the star
    algorithm's working set is the edge list itself, which CONTRACTS
    as stars collapse. Convergence is detected by exact set equality
    of consecutive edge sets (count + exceptAll, no hash-collision
    exposure), and the terminal state is asserted to be a star forest
    (every child appears exactly once, no parent is a child) — a
    violated assertion falls back to continued iteration rather than
    wrong output (storage policy of the cuts: the
    ``blow_spark.materialize`` docstring). The
    reference has no multi-pass operator at all (single-pass channel
    dataflow, maps/maps.go:34-37); this is the iterative-algorithm
    pattern the brief calls out, kept deterministic (the fixpoint —
    min node id per component — is independent of round structure) so
    a DuckDB recursive CTE can oracle it."""
    from blow_spark import ops
    from blow_spark.materialize import checkpoint_sublinear, reused, spill_to_parquet

    with reused(pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))) as raw:
        n_edges = raw.count()  # materializes the (expensive) pair plan ONCE
        LAST_CC_STRATEGY["n_edges"] = n_edges
        cutoff = ops.LOCAL_EDGE_CUTOFF if local_edge_cutoff is None else local_edge_cutoff
        if n_edges <= cutoff:
            LAST_CC_STRATEGY["strategy"] = "local"
            out = spill_to_parquet(_cc_local(raw), "blow_spark_cc_")
            # race-free per-call record (the global is single-threaded-only)
            out.cc_strategy = {"strategy": "local", "n_edges": n_edges}
            return out
        LAST_CC_STRATEGY["strategy"] = "distributed"
        # node universe up front: star rewrites drop nodes that collapse
        # into their root, and self-loop-only nodes never enter the loop
        nodes = checkpoint_sublinear(
            raw.select(F.col("a").alias("node"))
            .union(raw.select(F.col("b").alias("node")))
            .distinct()
        )
        e = checkpoint_sublinear(
            raw.filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
        )
    e_cnt = e.count()
    converged = False
    for _ in range(max_iter):
        # ---- large-star: (v, min(Γ⁺(u))) for v ∈ Γ(u), v > u ----
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e_ls = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: edges now orient u > v; (x, m) for x in
        # N(u) ∪ {u} \ {m}, m = min neighbor ----
        smin = e_ls.groupBy("u").agg(F.min("v").alias("m"))
        e_ss = checkpoint_sublinear(
            e_ls.join(smin, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        new_cnt = e_ss.count()
        # exact set-equality convergence: both frames are DISTINCT sets
        if new_cnt == e_cnt and e_ss.exceptAll(e).count() == 0:
            # terminal-state assertion: a star forest — every child has
            # exactly one parent and no parent is itself a child
            multi = (
                e_ss.groupBy("u").count().filter(F.col("count") > 1).count()
            )
            chained = (
                e_ss.join(
                    e_ss.select(F.col("u").alias("v")).distinct(), "v"
                ).count()
            )
            if multi == 0 and chained == 0:
                e = e_ss
                converged = True
                break
        e, e_cnt = e_ss, new_cnt
    if not converged and e_cnt > 0:
        raise RuntimeError(
            f"connected_components: star alternation did not converge in "
            f"{max_iter} rounds ({e_cnt} edges live) — raise max_iter"
        )
    star = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    out = nodes.join(star, "node", "left").select(
        "node", F.coalesce("comp", "node").alias("comp")
    )
    # race-free per-call record (the global is single-threaded-only)
    out.cc_strategy = {"strategy": "distributed", "n_edges": n_edges}
    return out


# --------------------------------------------------------------------------
# Duplicate-span excision (corpus-level substring dedup)
# --------------------------------------------------------------------------


def duplicate_span_excise(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 12,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicate SPAN removal — the sequence-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022, public literature), reshaped for a distributed
    engine: their suffix-array pass is single-machine; the scalable
    identity used here is positional n-gram blocking, the standard
    distributed approximation (a length-L duplicated substring is
    detected by every one of its L-n+1 duplicated n-grams, so n is the
    minimum span length removed — their edit similarity threshold role).

    Document-level dedup (exact/MinHash) misses the dominant pattern in
    web corpora: boilerplate SPANS (license headers, navigation text,
    quoted tweets) repeated inside otherwise-unique documents. This
    operator removes every token covered by an n-token window whose
    normalized text occurs >= min_count times across the ENTIRE corpus.

    Plan shape (all codegen'd JVM expressions, no Python per row):
    1. one scan → per-doc token array; positional windows come from ONE
       transform(sequence) producing (pos, xxhash64(window)) structs —
       the gram STRING itself never leaves the map stage, only its
       8-byte hash + position;
    2. corpus-wide dup spans = groupBy(hash) HAVING count >= min_count —
       a (hash, doc, pos) shuffle ∝ corpus token count, the same volume
       as building an inverted index (SCALE.md row);
    3. covered positions = dup-span join → explode(sequence(pos,
       pos+n-1)) → distinct;
    4. rebuild = positional tokens anti-join covered, array_sort by
       position, concat — order restored without any window function.
    Documents shorter than n tokens pass through unchanged (they have
    no window, hence nothing to excise). A 64-bit hash stands in for
    the gram string on the Spark side (~2^-50 collision odds per
    corpus-pair, same argument as _verify_jaccard); the DuckDB oracle
    groups the literal strings, so the gate also checks that identity.

    Returns (id_col, clean_text, n_tokens_kept, n_tokens_removed)."""
    from blow_spark.materialize import reused, spill_to_parquet

    toks = tokenize_ws(F.lower(F.col(text_col)))
    base = _spread(df).select(F.col(id_col).alias("doc"), toks.alias("t"))
    with reused(base) as base:
        grams = base.filter(F.size("t") >= n).select(
            "doc",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {n} + 1), "
                    f"i -> struct(i AS pos, xxhash64(concat_ws(' ', slice(t, i, {n}))) AS h))"
                )
            ).alias("g"),
        ).select("doc", "g.pos", "g.h")

        dup = grams.groupBy("h").agg(F.count("*").alias("cnt")).filter(
            F.col("cnt") >= min_count
        )
        covered = (
            grams.join(dup.select("h"), "h")
            .select("doc", F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("p"))
            .distinct()
        )
        tokens = base.select(
            "doc", F.posexplode("t").alias("p0", "tok")
        ).select("doc", (F.col("p0") + 1).alias("p"), "tok")
        kept = tokens.join(covered, ["doc", "p"], "left_anti")
        rebuilt = kept.groupBy("doc").agg(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
            ).alias("clean_text"),
            F.count("*").alias("n_tokens_kept"),
        )
        out = (
            base.select("doc", F.size("t").alias("n_total"))
            .join(rebuilt, "doc", "left")
            .select(
                F.col("doc").alias(id_col),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias("n_tokens_kept"),
                (F.col("n_total") - F.coalesce("n_tokens_kept", F.lit(0)))
                .cast("bigint")
                .alias("n_tokens_removed"),
            )
        )
        return spill_to_parquet(out, "blow_spark_span_")


# --------------------------------------------------------------------------
# EXACT duplicate-substring excision (character-level, hash + verify)
# --------------------------------------------------------------------------

#: Corpus size in characters (Spark's code-point ``length``) at or
#: below which exact_substring_excise computes the whole excision in ONE
#: task (``_excise_task``) instead of the distributed hash+verify plan.
#: Below it the distributed plan's 11 jobs are mostly scheduling floor:
#: the 149 k-character sf0.01 corpus took 1.4 s there and 0.5 s in one
#: task. Measured by scripts/scale_families.py (4 vCPUs, local[4],
#: SCALE.md) on the sf0.1 documents and 5 and 10 verbatim replicas of
#: them (every window duplicated, the verify step's worst case), one
#: task vs forced distributed plan, and the one task's peak
#: Python-worker RSS: 1.49 M chars 0.7 vs 3.9 s, 187 MB; 7.4 M chars
#: 3.3 vs 19.7 s, 434 MB; 14.9 M chars 6.9 vs 39.3 s, 682 MB. The one
#: task wins on wall time at every size measured; memory sets the
#: cutoff: 8 M keeps the worst case near 0.45 GB, under the 0.64 GB of
#: the largest graph one-task path (``ops.LOCAL_EDGE_CUTOFF``). Read at
#: call time, so patching it moves the path (0 forces the distributed
#: plan on any non-empty corpus, -1 on an empty one too).
LOCAL_CHAR_CUTOFF = 8_000_000


def _fits_one_task(df: DataFrame, text_col: str) -> bool:
    """Whether ``df`` holds at most ``LOCAL_CHAR_CUTOFF`` characters in at
    most ``LOCAL_CHAR_CUTOFF // 64`` documents. One job of one task:
    ``coalesce(1)`` is narrow, so no exchange is planned, and the limit
    stops the scan one document past that count, so a large corpus is
    never read in full. The document bound caps both this probe and the
    one task's per-document overhead; a corpus of more, shorter
    documents takes the distributed plan."""
    cutoff = LOCAL_CHAR_CUTOFF
    max_docs = cutoff // 64
    n_docs, n_chars = (
        df.coalesce(1)
        .select(F.length(text_col).alias("n"))
        .limit(max_docs + 1)
        .agg(F.count("*"), F.sum("n"))
        .first()
    )
    return n_docs <= max_docs and (n_chars or 0) <= cutoff


#: Multiplier of the window hash: odd, hence invertible mod 2^64.
_HASH_BASE = 0x9E3779B97F4A7C15


def _powers(base: int, n: int):
    """``base**i mod 2**64`` for i in [0, n) (uint64 products wrap)."""
    import numpy as np

    p = np.full(n, base, np.uint64)
    if n:
        p[0] = 1
    return np.cumprod(p, out=p)


def _window_hashes(buf, min_len: int, chunk: int = 1 << 20):
    """Polynomial hash mod 2^64 of the length-``min_len`` window at every
    start of the code-point array ``buf``: sum(buf[s+k] * B^-k). Over a
    chunk starting at c, prefix sums S[i] = sum(buf[j] * B^-(j-c), j < i)
    give the window at s as (S[s+L] - S[s]) * B^(s-c), the same value
    in whichever chunk it lies, so the temporaries stay chunk-sized."""
    import numpy as np

    n_wins = max(len(buf) - min_len + 1, 0)
    out = np.empty(n_wins, np.uint64)
    inv = _powers(pow(_HASH_BASE, -1, 1 << 64), min(chunk, n_wins) + min_len - 1)
    fwd = _powers(_HASH_BASE, min(chunk, n_wins))
    for c in range(0, n_wins, chunk):
        seg = buf[c : c + chunk + min_len - 1].astype(np.uint64)
        prefix = np.zeros(len(seg) + 1, np.uint64)
        np.cumsum(seg * inv[: len(seg)], out=prefix[1:])
        out[c : c + chunk] = (prefix[min_len:] - prefix[:-min_len]) * fwd[: len(seg) - min_len + 1]
    return out


def _verified_starts(buf, starts, hashes, min_len: int, min_count: int):
    """The ``starts`` whose literal window ``buf[s:s+min_len]`` occurs at
    least ``min_count`` times among ``starts``: the verify step. The
    input is grouped by hash (sorted by ``hashes``). Equal windows hash
    equal, so each literal string lies inside one hash group. A group
    whose every window equals its first holds one string, and its size
    is that string's count; the rare group that mixes strings (a hash
    collision) is recounted by its literal code points."""
    import collections

    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    if not len(starts):
        return starts
    first = np.ones(len(starts), bool)
    first[1:] = hashes[1:] != hashes[:-1]
    heads = np.flatnonzero(first)
    grp = np.cumsum(first, dtype=np.int32) - 1
    wins = sliding_window_view(buf, min_len)
    same = np.ones(len(starts), bool)
    for i in range(0, len(starts), 1 << 16):  # (chunk × L) copies
        j = slice(i, i + (1 << 16))
        same[j] = (wins[starts[j]] == wins[starts[heads[grp[j]]]]).all(axis=1)
    mixed = np.zeros(len(heads), bool)
    mixed[grp[~same]] = True
    keep = (~mixed & (np.diff(np.r_[heads, len(starts)]) >= min_count))[grp]
    idx = np.flatnonzero(mixed[grp])
    if idx.size:
        keys = [buf[s : s + min_len].tobytes() for s in starts[idx]]
        counts = collections.Counter(keys)
        keep[idx] = [counts[k] >= min_count for k in keys]
    return starts[keep]


def _excise_task(pdf, min_len: int, min_count: int):
    """exact_substring_excise's one task over the whole (doc, text)
    frame → (doc, clean_text, n_chars_kept, n_chars_removed). The
    distributed plan's steps over one code-point array of the corpus:
    hash every window, keep the hashes seen ``min_count`` times, verify
    those windows by their literal strings, merge the covered
    [p, p+L-1] intervals and cut them out. Rows with a null text or a
    null id pass through untouched and count toward no window, as in
    the distributed plan, whose candidate join drops null ids."""
    import numpy as np
    import pandas as pd

    L = min_len
    texts = pdf["text"].tolist()
    live = [t is not None and has_id for t, has_id in zip(texts, pdf["doc"].notna().tolist())]
    docs = [t for t, ok in zip(texts, live) if ok]
    lens = np.fromiter(map(len, docs), np.int64, len(docs))
    # documents in one array, each followed by its own separator above
    # every code point, so a window across a boundary is unique and
    # equals no window of text
    ends = np.cumsum(lens)
    code = np.frombuffer("".join(docs).encode("utf-32-le"), np.uint32)
    buf = np.insert(code, ends, 0x110000 + np.arange(len(docs), dtype=np.uint32))
    del code
    begins = ends - lens + np.arange(len(docs))

    # candidates: windows whose hash occurs min_count times, grouped by hash
    hashes = _window_hashes(buf, L)
    order = np.argsort(hashes)
    hashes = hashes[order]
    heads = np.flatnonzero(np.r_[True, hashes[1:] != hashes[:-1]])
    sizes = np.diff(np.r_[heads, len(hashes)])
    cand = np.repeat(sizes >= min_count, sizes)
    if not cand.all():  # no copy when every window is a candidate
        order, hashes = order[cand], hashes[cand]
    del heads, sizes, cand
    dup = np.sort(_verified_starts(buf, order, hashes, L, min_count))
    del order, hashes

    # drop windows across a boundary, then merge the covered intervals;
    # merged intervals never cross a separator
    doc = np.searchsorted(begins, dup, side="right") - 1
    dup = dup[dup + L <= begins[doc] + lens[doc]]
    lo = hi = dup
    if len(dup):
        reach = np.maximum.accumulate(dup + L)
        new = np.flatnonzero(np.r_[True, dup[1:] > reach[:-1]])
        lo, hi = dup[new], reach[np.r_[new[1:] - 1, len(dup) - 1]]
    doc = np.searchsorted(begins, lo, side="right") - 1
    cuts: dict = {}
    for d, a, b in zip(doc.tolist(), (lo - begins[doc]).tolist(), (hi - begins[doc]).tolist()):
        cuts.setdefault(d, []).append((a, b))
    for d, spans in cuts.items():
        text, pieces, at = docs[d], [], 0
        for a, b in spans:
            pieces.append(text[at:a])
            at = b
        pieces.append(text[at:])
        docs[d] = "".join(pieces)

    clean, kept, cut = [], [], []
    cleaned = iter(docs)
    for text, ok in zip(texts, live):
        out = next(cleaned) if ok else text
        clean.append(out)
        kept.append(None if out is None else len(out))
        cut.append(None if out is None else len(text) - len(out))
    return pd.DataFrame(
        {
            "doc": pdf["doc"],
            "clean_text": pd.Series(clean, dtype=object),
            "n_chars_kept": pd.array(kept, dtype="Int64"),
            "n_chars_removed": pd.array(cut, dtype="Int64"),
        }
    )


def exact_substring_excise(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 40,
    min_count: int = 2,
) -> DataFrame:
    """EXACT corpus-level duplicate-substring excision — the ExactSubstr
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (ACL 2022): remove every CHARACTER covered by a
    substring of length ≥ min_len that occurs ≥ min_count times across
    the corpus. Their implementation builds a single-machine suffix
    array; this plan reaches the identical answer distributed, via the
    window-reduction identity:

        a position is covered by a duplicated substring of length ≥ L
        ⟺  it is covered by a duplicated window of length EXACTLY L.

    (⇐ trivial; ⇒ any occurrence of a length-m ≥ L duplicate contains,
    around each of its positions, a length-L sub-window that occurs
    wherever the full substring occurs.) So fixed-L windows are not a
    blocking approximation here — they are an exact reformulation, and
    no suffix array is needed.

    Hash + verify discipline (exactness without shuffling the corpus):
    1. one scan → (doc, pos, xxhash64(window)) for every length-L
       character window — the L-char strings never leave the map stage;
       the count shuffle carries ~20 bytes/position (≈½ the corpus
       bytes at L=40, the same O(n) envelope as Lee et al.'s array).
    2. duplicated hashes = groupBy(h) HAVING count ≥ min_count
       (map-side combinable), spilled — a dup-DENSITY-sized table.
    3. candidates = windows ⋈ dup-hashes; ONLY candidate positions
       re-extract their literal window string (map-side, from the
       doc join), so literal strings shuffle at duplicate-density
       volume, never corpus volume.
    4. VERIFY: count over (h, literal string) — a hash collision
       between distinct strings can only INFLATE step 2 (xxhash64 is
       deterministic: equal strings always collide into the same
       bucket, so recall is 1 by construction); the literal-string
       count removes any inflation. Survivors are true duplicates:
       exact in both directions.
    5. per doc: sorted candidate starts → one aggregate() fold merges
       overlapping [p, p+L−1] intervals and stitches the kept text —
       no per-character explode, no window function, all JVM HOFs.

    The paired DuckDB oracle (dedup_exact_substring) groups the literal
    window strings with NO hashing and rebuilds from per-character
    anti-joins — the blocking-free ground truth; a value-hash match is
    the machine-checked proof that the hash+verify path is exact.

    Two paths behind this one contract, picked by a bounded probe of the
    corpus size (``_fits_one_task``: one job, at most
    ``LOCAL_CHAR_CUTOFF // 64 + 1`` documents read). At or below
    ``LOCAL_CHAR_CUTOFF`` characters the whole excision runs in ONE task
    (``_excise_task`` via ``ops._in_one_task``): a numpy polynomial hash
    of every window, the hashes seen ≥ min_count times as candidates,
    then the same verify as step 4 — the candidates' literal windows are
    compared, so a hash collision never cuts text — and the merge of the
    covered intervals. Above the cutoff the distributed plan of steps
    1-5 runs. Both give identical rows; tests/test_dedup.py runs every
    case on both paths.

    Returns (id_col, clean_text, n_chars_kept, n_chars_removed),
    one row per input document (short docs pass through unchanged).

    Reference analog: none — blow (SURVEY §2.2) has no dedup at all;
    this is brief-mandated. Cost at 100 TB: two corpus-linear map
    passes + one O(n)-row/20-byte shuffle; everything after step 2 is
    proportional to duplicated-span volume."""
    from blow_spark.materialize import spill_to_parquet

    L = int(min_len)
    if _fits_one_task(df, text_col):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from blow_spark.ops import _in_one_task

        schema = StructType(
            [
                StructField("doc", df.schema[id_col].dataType),
                StructField("clean_text", StringType()),
                StructField("n_chars_kept", LongType()),
                StructField("n_chars_removed", LongType()),
            ]
        )
        task = functools.partial(_excise_task, min_len=L, min_count=min_count)
        corpus = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
        return _in_one_task(corpus, task, schema).withColumnRenamed("doc", id_col)
    base = spill_to_parquet(
        _spread(df).select(
            F.col(id_col).alias("doc"),
            F.col(text_col).alias("text"),
            F.length(text_col).alias("n"),
        ),
        "blow_spark_xsub_base_",
    )
    wins = base.filter(F.col("n") >= L).select(
        "doc",
        F.explode(
            F.expr(
                f"transform(sequence(1, n - {L} + 1), "
                f"i -> struct(i AS pos, xxhash64(substring(text, i, {L})) AS h))"
            )
        ).alias("g"),
    ).select("doc", "g.pos", "g.h")
    dup_h = spill_to_parquet(
        wins.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h"),
        "blow_spark_xsub_duph_",
    )
    # candidate positions only: literal window strings re-derived
    # map-side after the doc join, never shuffled at corpus volume
    cand = (
        wins.join(dup_h, "h")
        .join(base.select("doc", "text"), "doc")
        .select("doc", "pos", "h", F.expr(f"substring(text, pos, {L})").alias("s"))
    )
    w_hs = W.partitionBy("h", "s")
    starts = (
        cand.withColumn("n_true", F.count("*").over(w_hs))
        .filter(F.col("n_true") >= min_count)
        .groupBy("doc")
        .agg(F.sort_array(F.collect_set("pos")).alias("starts"))
    )
    merged = base.join(starts, "doc", "left")
    fold = F.aggregate(
        F.col("starts"),
        F.struct(
            F.lit("").cast("string").alias("acc"), F.lit(1).cast("int").alias("nxt")
        ),
        lambda a, p: F.struct(
            F.concat(
                a.acc,
                F.when(
                    p > a.nxt, F.substring(F.col("text"), a.nxt, p - a.nxt)
                ).otherwise(F.lit("")),
            ).alias("acc"),
            F.greatest(a.nxt, p + F.lit(L)).alias("nxt"),
        ),
        lambda a: F.concat(
            a.acc,
            F.when(
                F.col("n") + 1 > a.nxt,
                F.substring(F.col("text"), a.nxt, F.col("n") - a.nxt + 1),
            ).otherwise(F.lit("")),
        ),
    )
    return merged.select(
        F.col("doc").alias(id_col),
        F.when(F.col("starts").isNull(), F.col("text"))
        .otherwise(fold)
        .alias("clean_text"),
        F.col("n"),
    ).select(
        id_col,
        "clean_text",
        F.length("clean_text").cast("bigint").alias("n_chars_kept"),
        (F.col("n") - F.length("clean_text")).cast("bigint").alias("n_chars_removed"),
    )
