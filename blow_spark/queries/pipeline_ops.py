"""Training-data pipeline operators: split / mix / pack, plus the shared-
string SQL surface.

The reference's north star (BASELINE.json) is an LLM-data-pipeline engine;
beyond dedup/similarity/text (text.py, vectors.py) a real corpus build
needs exactly three more primitives, implemented here as oracle-paired
queries over the ``documents`` fixture:

* **deterministic split** — content-hash train/val/test assignment
  (md5 of the text, not the row id: re-ingesting the same document under
  a new id lands in the same split, which is what prevents eval
  contamination across pipeline re-runs);
* **weighted source mixing** — per-source deterministic sampling rates
  (the "data recipe": upsample wiki, downsample crawl) with the same
  content-hash trick, so the mix is reproducible row-for-row;
* **sequence packing** — concatenate-then-chunk token-stream packing
  (each source's docs form a token stream split into fixed-capacity
  chunks), the standard pretraining batch-construction shape.

All three are pure built-in-function plans (md5/substring/when/window
cumsum) — no Python in the hot path, whole-stage-codegen end to end.

Scale notes (100 TB design point): split and mix are embarrassingly
parallel map-side filters — no shuffle at all; the md5 threshold
comparison is a per-row expression the parquet scan pipeline absorbs.
Packing shuffles once on the partition key (source) and runs one window
cumsum per partition; at 100 TB the spine key widens to (source, shard)
where shard = pmod(doc hash, k) bounds any one window's row count — the
chunk ids then interleave per shard, which batch construction tolerates.

The reference itself has none of these (SURVEY.md §2.2 — its only
operator family is the opaque flatMap chain, maps/maps.go:12-14); each is
new-engine surface mandated by the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from blow_spark.queries import register
from blow_spark.sources import read_table, register_views


# --------------------------------------------------------------------------
# Deterministic content-hash split
# --------------------------------------------------------------------------


@register(
    "split_train_val_test",
    oracle="""
    SELECT CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY split
    ORDER BY split
    """,
    tags=("pipeline", "split"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 75/12.5/12.5 split: first hex nibble of
    md5(text) ∈ [0,b] → train, [c,d] → val, [e,f] → test. Hex digits
    compare lexicographically ('0'<'9'<'a'<'f') identically in Spark and
    DuckDB, so the assignment is engine-independent. Map-side only — the
    scan's own expression pipeline computes the split; zero shuffle before
    the final 3-group aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5("text"), 1, 1)
    return (
        docs.withColumn(
            "split",
            F.when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# Weighted source mixing (the data recipe)
# --------------------------------------------------------------------------


@register(
    "mix_sources_weighted",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE substr(md5(text), 2, 1) <
          CASE WHEN source IN ('src5', 'src6', 'src7') THEN '8'
               WHEN source IN ('src8', 'src9') THEN '4'
               ELSE 'g' END
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "sampling"),
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling recipe: keep 100% of src0-4, 50% of src5-7
    (second md5 nibble < '8'), 25% of src8-9 (< '4'); unknown sources
    default to keep-all ('g' exceeds every hex digit). Uses an
    *independent* md5 nibble from the split query, so mix and split
    decisions don't correlate. Deterministic — rerunning the recipe keeps
    exactly the same rows, which makes downstream dedup/packing stable.
    Pure map-side filter: no shuffle, no RNG state, no sampleBy seed to
    desynchronize across retries (Spark's sample() is NOT
    task-retry-stable; a content-hash filter is)."""
    docs = read_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5("text"), 2, 1)
    thresh = (
        F.when(F.col("source").isin("src5", "src6", "src7"), "8")
        .when(F.col("source").isin("src8", "src9"), "4")
        .otherwise("g")
    )
    return (
        docs.filter(nib < thresh)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "mix_sources_temperature",
    oracle="""
    WITH sizes AS (
      SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang
    ), mn AS (
      SELECT MIN(n_s) AS n_min FROM sizes
    ), rates AS (
      SELECT lang, n_s,
             ROUND(POWER(CAST(n_min AS DOUBLE) / n_s, 0.7), 9) AS keep_rate
      FROM sizes CROSS JOIN mn
    ), keyed AS (
      SELECT d.lang, d.n_chars, r.keep_rate, r.n_s,
             ROUND((CAST(('0x' || substring(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 1) / 4503599627370497.0, 9) AS u
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT lang,
           CAST(n_s AS BIGINT)                                        AS n_docs_total,
           keep_rate,
           CAST(COUNT(*) FILTER (WHERE u < keep_rate) AS BIGINT)      AS kept_docs,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE u < keep_rate), 0)
                AS BIGINT)                                            AS kept_chars
    FROM keyed
    GROUP BY lang, n_s, keep_rate
    ORDER BY lang
    """,
    tags=("pipeline", "sampling", "mix", "llm"),
)
def mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/XLM-R multilingual
    data recipe, α = 0.3), balancing the corpus across LANGUAGES — the
    fixture's genuinely skewed dimension (en is 3.4× fr), so the
    downsampling branch is exercised at every gate sf. Keep rates are
    DERIVED FROM THE DATA, not hand-set like ``mix_sources_weighted``:
    r_l = (n_min/n_l)^(1-α), so the smallest language keeps 100% and
    every larger one downsamples until final sizes ∝ n_l^α (the
    standard without-repetition realization of p_l ∝ n_l^α; upsampling
    small groups with repetition is ``mix_sources_with_repetition``'s
    job).

    Two tiny aggregates (per-source counts, global min) broadcast back
    as the rate table; the keep decision is the repo's no-RNG
    hash-uniform (md5 → 52-bit uniform — deterministic, retry-stable,
    identical on both engines) compared against the rate, a pure
    map-side filter over the corpus scan. Both the rate (a pow() —
    transcendental) and the uniform are rounded to 9 decimals before
    the comparison so a 1-ulp JVM-vs-libm difference cannot flip a
    membership decision (the module's determinism rule). Output is the
    recipe report: per-language totals, rate, kept docs/chars — groups
    whose rate keeps nothing still report (conditional aggregation, no
    pre-filter)."""
    ALPHA = 0.3
    d = read_table(spark, sf_dir, "documents")
    sizes = d.groupBy("lang").agg(F.count("*").alias("n_s"))
    nmin = sizes.agg(F.min("n_s").alias("n_min"))
    rates = sizes.crossJoin(F.broadcast(nmin)).select(
        "lang",
        "n_s",
        F.round(
            F.pow(F.col("n_min").cast("double") / F.col("n_s"), F.lit(1 - ALPHA)), 9
        ).alias("keep_rate"),
    )
    u = F.round(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            + 1
        )
        / F.lit(4503599627370497.0),
        9,
    )
    keyed = d.join(F.broadcast(rates), "lang").select(
        "lang", "n_chars", "n_s", "keep_rate", u.alias("u")
    )
    return (
        keyed.groupBy("lang", "n_s", "keep_rate")
        .agg(
            F.count_if(F.col("u") < F.col("keep_rate")).alias("kept_docs"),
            F.coalesce(
                F.sum(F.when(F.col("u") < F.col("keep_rate"), F.col("n_chars"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .select(
            "lang",
            F.col("n_s").cast("bigint").alias("n_docs_total"),
            "keep_rate",
            "kept_docs",
            "kept_chars",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Sequence packing (concatenate-then-chunk)
# --------------------------------------------------------------------------


@register(
    "pack_token_stream_chunks",
    oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(FLOOR(n_chars / 4.0) AS BIGINT) + 1 AS tokens
        FROM documents
    ), spine AS (
        SELECT source, tokens,
               SUM(tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM toks
    )
    SELECT source,
           CAST(FLOOR((cum - tokens) / 2048.0) AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS chunk_tokens
    FROM spine
    GROUP BY source, chunk_id
    ORDER BY source, chunk_id
    """,
    tags=("pipeline", "packing", "window"),
)
def pack_token_stream_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-chunk packing: per source, docs (in doc_id order)
    form one token stream cut into 2048-token chunks; a doc belongs to the
    chunk its first token falls in. tokens ≈ ⌊n_chars/4⌋+1 (the standard
    chars-per-token proxy; an exact tokenizer slots in as a column swap).
    One shuffle (partitionBy source) + one running-sum window — the
    cumsum is codegen'd, no Python. The (cum − tokens) form gives the
    stream offset of each doc's first token without a second pass."""
    docs = read_table(spark, sf_dir, "documents")
    tokens = (F.floor(F.col("n_chars") / F.lit(4.0)) + 1).cast("bigint")
    spine = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        docs.select("source", "doc_id", tokens.alias("tokens"))
        .withColumn("cum", F.sum("tokens").over(spine))
        .select(
            "source",
            F.floor((F.col("cum") - F.col("tokens")) / F.lit(2048.0))
            .cast("bigint")
            .alias("chunk_id"),
            "tokens",
        )
        .groupBy("source", "chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("chunk_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


# --------------------------------------------------------------------------
# Malformed-record tolerance (ingest robustness)
# --------------------------------------------------------------------------


@register(
    "json_malformed_tolerance",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN json_extract(TRY_CAST(c AS JSON), '$.k') IS NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows,
           CAST(SUM(CAST(json_extract(TRY_CAST(c AS JSON), '$.k') AS INTEGER))
                AS BIGINT) AS sum_k_good
    FROM (
        SELECT event_type,
               CASE WHEN event_id % 7 = 0 THEN '{' || props ELSE props END AS c
        FROM events
    ) t
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("pipeline", "json", "robustness"),
)
def json_malformed_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest semantics: every 7th record's JSON payload is
    corrupted in-flight (prefix brace — Jackson's stream parser accepts
    trailing garbage, so corrupt at the front), then parsed PERMISSIVEly —
    from_json yields a null-fielded struct for malformed input instead of
    failing the task, the per-type
    bad-row count becomes a data-quality metric, and aggregates run over
    the surviving rows. At 100 TB a task-killing parse error is the
    difference between a job that finishes and one that dies at hour 9 —
    tolerate-and-count is the only viable posture (the oracle mirrors
    with TRY_CAST-to-JSON gating — DuckDB's json_extract THROWS on
    malformed input, and OR does not short-circuit under vectorized
    execution, so validity must gate via the NULL-propagating cast)."""
    e = read_table(spark, sf_dir, "events")
    c = F.when(F.col("event_id") % 7 == 0, F.concat(F.lit("{"), "props")).otherwise(
        F.col("props")
    )
    parsed = F.from_json(c, "k INT")
    return (
        e.select("event_type", parsed.alias("p"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("p.k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("bad_rows"),
            F.sum("p.k").cast("bigint").alias("sum_k_good"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Curriculum length bucketing
# --------------------------------------------------------------------------


@register(
    "curriculum_length_buckets",
    oracle="""
    WITH b AS (
        SELECT n_chars,
               CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT)     AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("pipeline", "curriculum", "window"),
)
def curriculum_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-quartile bucketing for curriculum schedules / length-grouped
    batching, EXACTLY matching ``NTILE(4) OVER (ORDER BY n_chars, doc_id)``
    but with NO single-partition window (the round-3 verdict's last
    scale-killer). Two-phase exact global rank, same identity proven in
    ``sort_equidepth_global_rank``: range-partition on the total sort key,
    row_number WITHIN each partition (independent window groups — full
    parallelism), add each partition's broadcast predecessor-count offset.
    The NTILE bucket is then pure map-side integer arithmetic on
    (rank, N): with q = N div 4 and rem = N mod 4, the first ``rem``
    buckets hold q+1 rows, the rest q — the ANSI NTILE contract — so
    bucket(r) = ceil(r/(q+1)) while r <= rem*(q+1), else
    rem + ceil((r - rem*(q+1))/q). No float boundary jitter, bit-equal to
    the oracle's NTILE at any N. The ranked table is spilled once so the
    offsets branch and the final join see the same partition ids."""
    from blow_spark.materialize import spill_to_parquet

    docs = read_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    parts = docs.repartitionByRange(32, "n_chars", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    within = parts.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("pid").orderBy("n_chars", "doc_id")),
    )
    ranked = spill_to_parquet(within, "blow_spark_curric_")
    counts = ranked.groupBy("pid").agg(F.max("rn").alias("cnt"))
    offs = counts.select(
        "pid",
        F.sum("cnt")
        .over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1))
        .alias("off"),
        F.sum("cnt")
        .over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    g = ranked.join(F.broadcast(offs), "pid").select(
        "n_chars",
        (F.col("rn") + F.coalesce("off", F.lit(0))).alias("rank"),
        "n",
    )
    # ANSI NTILE(4): q = n div 4, rem = n mod 4; first rem buckets get q+1.
    # ceil(a/b) for positive ints is (a + b - 1) div b (Spark div truncates).
    bucket = F.expr(
        "CASE WHEN rank <= (n % 4) * ((n div 4) + 1) "
        "THEN (rank + (n div 4)) div ((n div 4) + 1) "
        "ELSE (n % 4) + (rank - (n % 4) * ((n div 4) + 1) + (n div 4) - 1) div (n div 4) END"
    ).cast("bigint")
    return (
        g.select("n_chars", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Changelog compaction (CDC): snapshot + SCD2 intervals
# --------------------------------------------------------------------------


@register(
    "cdc_latest_state_by_key",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) ranked
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    tags=("pipeline", "cdc", "window"),
)
def cdc_latest_state_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → snapshot compaction (the MERGE/upsert read side):
    newest row per (user_id, event_type), (ts, event_id) ordered so ties
    resolve deterministically. One shuffle on the key; Catalyst runs the
    rank as a running window with a rn<=1 pushdown filter (no full sort
    materialization per group). This is the compaction a 100 TB CDC lake
    runs per partition-key bucket — on a real table the key shuffle is
    avoided entirely by bucketing the changelog on the same key."""
    e = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "cdc_state_intervals_scd2",
    oracle="""
    SELECT user_id, event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS valid_to
    FROM events
    WHERE user_id < 20
    ORDER BY user_id, event_type, valid_from, value
    """,
    tags=("pipeline", "cdc", "window"),
)
def cdc_state_intervals_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → SCD2 validity intervals: each change opens an interval
    [its ts, next change's ts); the live row keeps valid_to NULL. The
    lead() runs in the same single window pass as the compaction query —
    a changelog keyed the same way serves both outputs from one shuffle."""
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).orderBy("user_id", "event_type", "valid_from", "value")


# --------------------------------------------------------------------------
# Shared-string SQL surface (one text, two engines)
# --------------------------------------------------------------------------

_NATION_MONTHLY_RANK_SQL = """
    WITH monthly AS (
        SELECT n_name,
               date_trunc('month', o_orderdate) AS order_month,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name, order_month
    )
    SELECT n_name, order_month, revenue,
           CAST(RANK() OVER (
               PARTITION BY order_month ORDER BY revenue DESC, n_name
           ) AS BIGINT) AS revenue_rank
    FROM monthly
    WHERE revenue > 0
    ORDER BY order_month, revenue_rank
"""


@register(
    "sql_nation_monthly_rank",
    oracle=_NATION_MONTHLY_RANK_SQL,
    tags=("sql", "cte", "window", "join"),
)
def sql_nation_monthly_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-SQL front door: the SAME query text runs on spark.sql and
    on the DuckDB oracle (CTE + 4-way join + decimal agg + ranked window)
    — pinning that the engine's SQL dialect surface, not just its
    DataFrame API, matches ANSI semantics. Catalyst plans it exactly like
    the DataFrame twin would: dims broadcast, one fact shuffle, window
    after the aggregate's exchange."""
    register_views(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    return spark.sql(_NATION_MONTHLY_RANK_SQL)


# --------------------------------------------------------------------------
# Interval overlap join (temporal join)
# --------------------------------------------------------------------------


@register(
    "join_interval_overlap",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               MIN(ts) AS w_start, MAX(ts) AS w_end
        FROM events
        WHERE user_id < 40
        GROUP BY user_id, day
    )
    SELECT a.user_id AS a_user, b.user_id AS b_user,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(date_diff('microsecond',
                              GREATEST(a.w_start, b.w_start),
                              LEAST(a.w_end, b.w_end))) AS BIGINT) AS overlap_us
    FROM daily a
    JOIN daily b
      ON a.user_id < 20 AND b.user_id >= 20
     AND a.w_start <= b.w_end AND b.w_start <= a.w_end
    GROUP BY a.user_id, b.user_id
    ORDER BY a_user, b_user
    """,
    tags=("join", "interval", "temporal"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal overlap join: each user's daily activity window
    [first event, last event]; cohort A (user 0-19) × cohort B (20-39)
    pairs whose windows intersect, with total concurrent time. Runs
    through blow_spark.ops.interval_overlap_join — grid-cell (1 h)
    decomposition turns the interval predicate into an equi-join, where
    the naive formulation (the oracle's) is a nested-loop the optimizer
    cannot hash. The dedupe is the first-shared-cell filter, not a
    distinct. Overlap durations are exact microsecond integers on both
    engines."""
    from blow_spark import ops

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.min("ts").alias("w_start"), F.max("ts").alias("w_end"))
    a = daily.filter(F.col("user_id") < 20).select(
        F.col("user_id").alias("a_user"),
        F.col("w_start").alias("a_start"),
        F.col("w_end").alias("a_end"),
    )
    b = daily.filter(F.col("user_id") >= 20).select(
        F.col("user_id").alias("b_user"),
        F.col("w_start").alias("b_start"),
        F.col("w_end").alias("b_end"),
    )
    pairs = ops.interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", cell_seconds=3600
    )
    overlap = F.unix_micros(F.least("a_end", "b_end")) - F.unix_micros(
        F.greatest("a_start", "b_start")
    )
    return (
        pairs.groupBy("a_user", "b_user")
        .agg(
            F.count("*").cast("bigint").alias("n_overlaps"),
            F.sum(overlap).cast("bigint").alias("overlap_us"),
        )
        .orderBy("a_user", "b_user")
    )


# --------------------------------------------------------------------------
# Epoch-weighted repetition (oversampling) + salted aggregation + global sort
# --------------------------------------------------------------------------


@register(
    "mix_sources_with_repetition",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS rows_out,
           CAST(SUM(n_chars) AS BIGINT) AS chars_out,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
    FROM documents
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS epoch) reps
    WHERE epoch <= CASE WHEN source IN ('src0', 'src1') THEN 3
                        WHEN source = 'src2' THEN 2
                        ELSE 1 END
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "sampling"),
)
def mix_sources_with_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >1× side of the data recipe: high-quality sources repeat for
    multiple epochs (src0/src1 ×3, src2 ×2, rest ×1) — explode over a
    per-row epoch sequence, the multi-epoch analog of the keep-fraction
    filter in mix_sources_weighted. Map-side only (sequence+explode in the
    scan stage, fan-out bounded by the max epoch count); at 100 TB this is
    how a 3-epoch wiki + 1-epoch crawl mixture materializes without any
    shuffle. The epoch column survives so downstream packing can interleave
    epochs rather than concatenate them."""
    docs = read_table(spark, sf_dir, "documents")
    reps = (
        F.when(F.col("source").isin("src0", "src1"), 3)
        .when(F.col("source") == "src2", 2)
        .otherwise(1)
    )
    return (
        docs.withColumn("epoch", F.explode(F.sequence(F.lit(1), reps)))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("rows_out"),
            F.sum("n_chars").cast("bigint").alias("chars_out"),
            F.max("epoch").cast("bigint").alias("max_epoch"),
        )
        .orderBy("source")
    )


@register(
    "agg_salted_two_phase",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation with EXPLICIT salting: phase 1 groups by
    (key, salt=pmod(hash(unique cols), 64)) spreading each hot key over 64
    reducers; phase 2 re-aggregates the 64 partials per key. l_returnflag
    has ~3 distinct values — the worst-case skew shape where unsalted
    hash aggregation would route a third of the table to one task were it
    not for map-side combine; with salting the plan is hot-key-safe even
    when the upstream is pre-shuffled or combine is defeated (e.g. after
    an expansion). Decimal partials re-aggregate exactly, so the oracle is
    the plain one-phase GROUP BY."""
    li = read_table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(64))
    partial = (
        li.withColumn("_salt", salt)
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("pq"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").cast("bigint").alias("n_rows"),
            F.sum("pq").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sort_full_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_quantity >= 45
    ORDER BY l_shipdate, l_orderkey, l_linenumber
    """,
    tags=("sort",),
)
def sort_full_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True global sort (no LIMIT): Spark samples the key distribution and
    RANGE-partitions, so each task sorts a disjoint key interval and
    output files concatenate sorted — the plan to check is Exchange
    rangepartitioning, NOT a single-task sort. The (shipdate, orderkey,
    linenumber) key is total, so the order is unique. This is the 100 TB
    'write the corpus ordered by time' primitive; spill-safe because each
    range partition sorts externally."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return li.select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )


@register(
    "sort_equidepth_global_rank",
    oracle="""
    WITH r AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(((rnk - 1) * 8) // n AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS lo,
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS hi
    FROM r GROUP BY 1
    """,
    tags=("sort", "rank", "histogram", "scale"),
)
def sort_equidepth_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global rank without a single-partition window, and an
    equi-depth (equal-count) histogram built on it — the complement of
    ``agg_histogram_buckets``' fixed-width buckets.

    The naive ``ROW_NUMBER() OVER (ORDER BY ...)`` (the oracle's form)
    collapses the whole table into ONE window partition — the exact
    anti-pattern at 100 TB. The scalable identity used here: range-
    partition by the sort key, row_number WITHIN each partition (every
    partition is an independent window group — full parallelism), then
    add each partition's cumulative predecessor count. The offsets table
    has one row per PARTITION, so its running-sum window is over ~10^3
    rows regardless of data size, and it joins back as a broadcast.
    global_rank = within_rank + offset reproduces the single-window
    answer exactly because the range exchange puts partition i's every
    key strictly before partition i+1's (ties impossible: the sort key
    (o_totalprice, o_orderkey) is total).

    The ranked table is spilled once (materialize.spill_to_parquet):
    offsets and final ranks both read it, and reusing one materialized
    partitioning is what makes the two branches see the SAME partition
    ids. Bucket = ((rank-1)*k) div n in pure integer arithmetic — no
    float boundary jitter between engines."""
    from blow_spark.materialize import spill_to_parquet

    K = 8
    o = read_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    parts = o.repartitionByRange(32, "o_totalprice", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    within = parts.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
        ),
    )
    ranked = spill_to_parquet(within, "blow_spark_grank_")
    counts = ranked.groupBy("pid").agg(F.max("rn").alias("cnt"))
    offs = counts.select(
        "pid",
        (
            F.sum("cnt").over(
                W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("off"),
        F.sum("cnt").over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
    )
    g = ranked.join(F.broadcast(offs), "pid").select(
        "o_totalprice",
        (F.col("rn") + F.coalesce("off", F.lit(0))).alias("rank"),
        "n",
    )
    bucket = F.expr(f"((rank - 1) * {K}) div n")
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min(F.col("o_totalprice")).cast("decimal(18,2)").cast("string").alias("lo"),
        F.max(F.col("o_totalprice")).cast("decimal(18,2)").cast("string").alias("hi"),
    )


_LATERAL_TOPK_SQL = """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) top_orders
    WHERE c_custkey < 300
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


@register(
    "sql_lateral_topk_per_customer",
    oracle=_LATERAL_TOPK_SQL,
    tags=("sql", "lateral", "subquery", "topk"),
)
def sql_lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the same text on spark.sql and
    DuckDB: each customer's top-2 orders by price. Catalyst de-correlates
    the lateral into a per-key group limit (no per-outer-row re-scan of
    orders); the (price, orderkey) tiebreak makes the selected set unique.
    This is the third shared-string SQL-front-door query after
    sql_nation_monthly_rank and the EXISTS pair."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL_TOPK_SQL)


# --------------------------------------------------------------------------
# PageRank (iterative algorithm family, beside dedup_clusters' CC)
# --------------------------------------------------------------------------

def _both_directions(pairs):
    """(c_node, s_node) pairs → undirected (src, dst) edges via ONE
    map-side explode. The obvious union of two selects re-runs the whole
    (lazy) orders⋈lineitem+distinct pair plan once per branch — measured
    ~2 s of pure recompute at sf0.1; the explode reads it once."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c_node").alias("src"), F.col("s_node").alias("dst")),
                F.struct(F.col("s_node").alias("src"), F.col("c_node").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


_PR_STEP = """
    SELECT nodes.node,
           (1.0 - 0.85) / n.n_nodes
             + 0.85 * COALESCE(SUM({prev}.rank / deg.outdeg), 0) AS rank
    FROM nodes CROSS JOIN n
    LEFT JOIN edges ON edges.dst = nodes.node
    LEFT JOIN {prev} ON {prev}.node = edges.src
    LEFT JOIN deg ON deg.src = edges.src
    GROUP BY nodes.node, n.n_nodes
"""


@register(
    "graph_pagerank_bipartite",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c_node,
                        's' || CAST(l_suppkey AS VARCHAR) AS s_node
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT c_node AS src, s_node AS dst FROM pairs
        UNION ALL
        SELECT s_node AS src, c_node AS dst FROM pairs
    ), nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / n.n_nodes AS rank FROM nodes CROSS JOIN n),
    r1 AS ({_PR_STEP.format(prev="r0")}),
    r2 AS ({_PR_STEP.format(prev="r1")}),
    r3 AS ({_PR_STEP.format(prev="r2")})
    SELECT node, ROUND(rank, 6) AS rank FROM r3 ORDER BY node
    """,
    tags=("graph", "iterative"),
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) on the undirected
    customer↔supplier trade graph (distinct pairs via orders⋈lineitem,
    namespaced node ids, both edge directions). Runs through the generic
    blow_spark.ops.pagerank — per-round join + shuffle on a constant key,
    lineage truncated per round — and is oracle-replayed by UNROLLING the
    three iterations as nested CTEs (fixed iteration count makes the
    result a pure function of the edges, the same trick dedup_clusters
    uses with a recursive CTE). Final ranks rounded to 6 (double
    summation order differs across engines at ~1e-15 relative).

    Round 4: nodes are BIGINT inside the iteration (custkey·2 /
    suppkey·2+1 — disjoint by parity) and decode to the oracle's
    'c…'/'s…' strings only in the final 160-row projection: every
    per-round shuffle and join then hashes 8-byte longs instead of
    variable-length strings (measured best-of-3 8.07 → 6.9-7.3 s at
    sf0.1; the narrower key is the part that compounds at 10⁹ edges).
    Output is bit-identical to the string-node form (verified exact at
    sf0.001 before the swap)."""
    from blow_spark import ops

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .distinct()
    )
    edges = _both_directions(pairs)
    # assume_distinct: `pairs` is DISTINCT and the two union'd directions
    # are disjoint by construction (even→odd vs odd→even), so the
    # operator's defensive dedup shuffle is provably redundant here
    ranks = ops.pagerank(edges, iterations=3, damping=0.85, assume_distinct=True)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("bigint").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("bigint").cast("string"))
    )
    return ranks.select(node_str.alias("node"), F.round("rank", 6).alias("rank")).orderBy(
        "node"
    )


# --------------------------------------------------------------------------
# The full corpus-preprocessing pipeline as ONE declarative plan
# --------------------------------------------------------------------------


@register(
    "pipeline_corpus_end_to_end",
    oracle=r"""
    WITH cleaned AS (
        SELECT doc_id, lang,
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(text), 'https?://[^ ]+', '<url>', 'g'),
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
                 '\s+', ' ', 'g')) AS text_clean
        FROM documents
    ), filtered AS (
        SELECT * FROM cleaned
        WHERE length(text_clean) >= 50
          AND length(regexp_replace(text_clean, '[^a-z]', '', 'g'))
                >= 0.5 * length(text_clean)
    ), deduped AS (
        SELECT * FROM filtered
        WHERE doc_id IN (
            SELECT MIN(doc_id) FROM filtered GROUP BY md5(text_clean)
        )
    )
    SELECT CASE WHEN substr(md5(text_clean), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(text_clean), 1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text_clean)) AS BIGINT) AS sum_chars
    FROM deduped
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    tags=("pipeline", "composite", "dedup", "split"),
)
def pipeline_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole preprocessing recipe — normalize (URL/email masking,
    whitespace collapse) → quality filter (length + alpha-ratio) → exact
    dedup on the CLEANED text (keep min doc_id per digest, semi-join so
    full rows never shuffle) → content-hash split → per-(split, lang)
    corpus stats — as ONE Catalyst plan. What a user of the reference
    would have written as four chained flatMap stages with hand-managed
    intermediate state (maps/maps.go:12-14 is its whole toolkit) is here
    a single declarative query: the normalize+filter stages fuse into the
    scan (zero shuffle), dedup is the only keyed exchange, and the split
    re-derives from md5 the scan already computed. Canonical-row identity
    dedups on cleaned bytes, so near-identical raw docs that normalize
    equal collapse correctly."""
    d = read_table(spark, sf_dir, "documents")
    cleaned_expr = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), r"https?://[^ ]+", "<url>"),
                r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
                "<email>",
            ),
            r"\s+",
            " ",
        )
    )
    cleaned = d.select("doc_id", "lang", cleaned_expr.alias("text_clean"))
    alpha_len = F.length(F.regexp_replace("text_clean", "[^a-z]", ""))
    filtered = cleaned.filter(
        (F.length("text_clean") >= 50)
        & (alpha_len >= 0.5 * F.length("text_clean"))
    )
    keep = filtered.groupBy(F.md5("text_clean")).agg(F.min("doc_id").alias("doc_id"))
    deduped = filtered.join(keep.select("doc_id"), "doc_id", "left_semi")
    nib = F.substring(F.md5("text_clean"), 1, 1)
    return (
        deduped.withColumn(
            "split",
            F.when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text_clean")).cast("bigint").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "sample_stratified_exact_k",
    oracle="""
    SELECT doc_id, source, rn AS sample_rank
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
      FROM documents
    ) t
    WHERE rn <= 100
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-k sampling: exactly min(k,|stratum|)=100 docs per
    `source`, chosen by content hash — a deterministic, task-retry-stable
    stand-in for reservoir sampling (repo rule: no RNG; md5 order IS a
    uniform random order, but reproducible and oracle-pairable). One
    shuffle on source + per-stratum sort. At 100 TB the full sort is
    avoidable: md5 is uniform, so pre-filter rows whose hash prefix falls
    under ~(k/stratum_count)·16^p before the window — the window then
    sorts thousands of survivors, not billions (same trick as
    sort_full_global's range partitioning; documented in SCALE.md)."""
    d = read_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 100)
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(DISTINCT u) FROM (SELECT u FROM e UNION ALL SELECT v FROM e) t(u)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
    """,
    tags=("graph", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-part graph (edge u—v iff two
    suppliers ship the same part; lineitem is the part↔supplier bridge,
    FIXTURES.md). Edges are canonicalized u<v, so each triangle is
    enumerated exactly once as (a<b<c) by the standard two-hop wedge
    join + closing-edge check. The edge list is vocabulary-sized
    (suppliers², bounded by co-purchase structure), so both joins
    broadcast; at 100 TB the classic refinement is degree-ordered
    orientation (point each edge low-degree→high-degree) which bounds
    wedge counts by arboricity — noted in SCALE.md. Reference has no
    multi-input operators at all (SURVEY.md §2.2)."""
    from blow_spark.materialize import checkpoint_sublinear

    li = read_table(spark, sf_dir, "lineitem")
    sp = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    e = checkpoint_sublinear(
        sp.alias("a")
        .join(sp.alias("b"), (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    tri = (
        e.alias("e1")
        .join(F.broadcast(e.alias("e2")), F.col("e2.u") == F.col("e1.v"))
        .join(
            F.broadcast(e.alias("e3")),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    nodes = e.select(F.col("u").alias("n")).unionAll(e.select("v")).distinct()
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
    )


_BFS_STEP = """
    SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM {prev}
      UNION ALL
      SELECT e.dst AS node, p.dist + 1 AS dist
      FROM edges e JOIN {prev} p ON e.src = p.node
    ) u GROUP BY node
"""


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c_node,
                        's' || CAST(l_suppkey AS VARCHAR) AS s_node
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT c_node AS src, s_node AS dst FROM pairs
        UNION ALL
        SELECT s_node AS src, c_node AS dst FROM pairs
    ), b0 AS (
        SELECT 's1' AS node, 0 AS dist
    ), b1 AS ({_BFS_STEP.format(prev="b0")}),
       b2 AS ({_BFS_STEP.format(prev="b1")}),
       b3 AS ({_BFS_STEP.format(prev="b2")})
    SELECT node, CAST(dist AS INT) AS dist FROM b3
    """,
    tags=("graph", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS (3 rounds) from supplier s1 over the undirected
    customer↔supplier trade graph — "which customers and suppliers sit
    within k trade hops of this supplier", the neighborhood-expansion
    primitive of fraud rings / recommendation walks. Runs through the
    generic blow_spark.ops.bfs_distances (frontier join + min-groupBy per
    round, lineage-truncated); oracle unrolls the three relaxation
    rounds as nested CTEs exactly like graph_pagerank_bipartite."""
    from blow_spark import ops

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c_node"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s_node"),
        )
        .distinct()
    )
    edges = _both_directions(pairs)
    sources = spark.createDataFrame([("s1",)], "node string")
    return ops.bfs_distances(edges, sources, max_hops=3).select(
        "node", F.col("dist").cast("int").alias("dist")
    )


@register(
    "cdc_merge_upsert_delete",
    oracle="""
    SELECT user_id,
           ts    AS last_ts,
           value AS last_value
    FROM (
      SELECT user_id, ts, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("pipeline", "cdc", "merge"),
)
def cdc_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics over a changelog WITH delete markers: every event
    upserts its user's state except 'error' rows, which act as DELETEs —
    a key whose newest entry is a delete vanishes from the snapshot
    (cdc_latest_state_by_key is the delete-free compaction). Same
    single-shuffle rank-and-filter plan; the delete is a post-rank
    predicate, not a second pass. This is the read-side contract of
    MERGE INTO ... WHEN MATCHED DELETE on a 100 TB CDC lake."""
    e = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select("user_id", F.col("ts").alias("last_ts"), F.col("value").alias("last_value"))
    )


_GROUPING_SETS_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           SUM(CAST(ROUND(l_quantity * 10000, 0) AS BIGINT))
             / CAST(10000 AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""
# (the /CAST(10000 AS DOUBLE) is deliberate: Spark SQL parses the literal
# 10000.0 as DECIMAL(5,1) — giving a DECIMAL division — while DuckDB
# parses it as DOUBLE; the explicit cast pins double division in both)


@register(
    "sql_grouping_sets_front_door",
    oracle=_GROUPING_SETS_SQL,
    tags=("sql", "agg", "grouping-sets"),
)
def sql_grouping_sets_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL front door with ONE shared query
    text — the same string runs on spark.sql and the DuckDB oracle
    (the third shared-string query: CTE+window, LATERAL, and now
    multi-level aggregation). Catalyst plans the three grouping levels
    as one Expand + aggregate pass, not three scans."""
    for t in ("lineitem",):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GROUPING_SETS_SQL)


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderkey < 30000
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql_group_by_all_front_door",
    oracle=_GROUP_BY_ALL_SQL,
    tags=("sql", "agg", "spark4"),
)
def sql_group_by_all_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL through the SQL front door with ONE
    shared query text (the fourth shared-string query): both engines
    infer the grouping keys as every non-aggregate select item and the
    total output order — the analyst sugar DuckDB pioneered and Spark 4
    adopted, resolved identically or the hash breaks."""
    for t in ("orders",):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GROUP_BY_ALL_SQL)


# --------------------------------------------------------------------------
# Data-quality gate: rule-based quarantine split
# --------------------------------------------------------------------------


@register(
    "dq_quarantine_split",
    oracle="""
    WITH flagged AS (
      SELECT source,
             CASE WHEN text IS NULL OR length(text) < 100 THEN 1 ELSE 0 END AS f_short,
             CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 1 ELSE 0 END AS f_lang,
             CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 .,;:!?''"()-]', '', 'g'))
                        AS DOUBLE) / length(text) > 0.05 THEN 1 ELSE 0 END AS f_charset
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN f_short = 0 AND f_lang = 0 AND f_charset = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(f_short) AS BIGINT) AS n_short,
           CAST(SUM(f_lang) AS BIGINT) AS n_lang,
           CAST(SUM(f_charset) AS BIGINT) AS n_charset
    FROM flagged
    GROUP BY source
    """,
    tags=("pipeline", "quality", "dq"),
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: every document is scored against independent
    validity rules (min length, language whitelist, non-text character
    ratio) and the per-source pass/violation census comes back in ONE
    aggregation — the report a quarantine split writes alongside its
    valid/invalid outputs. Rules are plain codegen'd expressions fused
    into the scan (a real deployment computes the flags once and writes
    both partitions with partitionBy(is_valid) — same single pass); the
    violation counts are overlapping by design so each rule's hit rate
    is visible independently. Integer counts only — nothing to quantize."""
    d = read_table(spark, sf_dir, "documents")
    bad_chars = F.length(F.regexp_replace(F.col("text"), """[a-zA-Z0-9 .,;:!?'"()-]""", ""))
    f_short = F.when(F.col("text").isNull() | (F.length("text") < 100), 1).otherwise(0)
    f_lang = F.when(~F.col("lang").isin("en", "de", "fr", "es"), 1).otherwise(0)
    f_charset = F.when(
        bad_chars.cast("double") / F.length("text") > 0.05, 1
    ).otherwise(0)
    flagged = d.select(
        "source",
        f_short.alias("f_short"),
        f_lang.alias("f_lang"),
        f_charset.alias("f_charset"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(
            F.when(
                (F.col("f_short") == 0) & (F.col("f_lang") == 0) & (F.col("f_charset") == 0),
                1,
            ).otherwise(0)
        ).alias("n_pass"),
        F.sum("f_short").alias("n_short"),
        F.sum("f_lang").alias("n_lang"),
        F.sum("f_charset").alias("n_charset"),
    )


_RECURSIVE_REACH_SQL = """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS c_node,
                      's' || CAST(l_suppkey AS STRING) AS s_node
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 200
    ), edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs
    ), reach(node, dist) AS (
      SELECT 's1', 0
      UNION ALL
      SELECT e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < 2
    )
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
    FROM reach GROUP BY node
"""


@register(
    "sql_recursive_reachability",
    oracle=_RECURSIVE_REACH_SQL,
    tags=("sql", "recursive", "graph", "spark4"),
)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL front door — Spark 4's WITH
    RECURSIVE (new in 4.0) running THE SAME TEXT DuckDB runs: 2-hop
    shortest reachability from supplier s1 over a bounded slice of the
    trade graph (UNION ALL recursion + depth guard + MIN-dist collapse —
    the portable formulation: recursion-level dedup via UNION DISTINCT
    differs between engines, depth-bounded UNION ALL + final GROUP BY
    does not). Fourth shared-string front-door query after
    sql_nation_monthly_rank, the EXISTS pair, and GROUP BY ALL; the
    DataFrame twin of this computation is graph_bfs_hops (iterative
    frontier joins), which is the form that scales — a recursive CTE
    unions every PATH, not every node, so the depth guard is what keeps
    it tractable."""
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_RECURSIVE_REACH_SQL)


_BF_STEP = """
    SELECT node, MIN(cost) AS cost FROM (
      SELECT node, cost FROM {prev}
      UNION ALL
      SELECT e.dst AS node, p.cost + e.w AS cost
      FROM edges e JOIN {prev} p ON e.src = p.node
    ) u GROUP BY node
"""


@register(
    "graph_cheapest_path_bounded",
    oracle=f"""
    WITH pairs AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c_node,
               's' || CAST(l_suppkey AS VARCHAR) AS s_node,
               MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
    ), edges AS (
        SELECT c_node AS src, s_node AS dst, w FROM pairs
        UNION ALL
        SELECT s_node AS src, c_node AS dst, w FROM pairs
    ), b0 AS (
        SELECT 's1' AS node, CAST(0 AS BIGINT) AS cost
    ), b1 AS ({_BF_STEP.format(prev="b0")}),
       b2 AS ({_BF_STEP.format(prev="b1")}),
       b3 AS ({_BF_STEP.format(prev="b2")})
    SELECT node, CAST(cost AS BIGINT) AS cost FROM b3
    """,
    tags=("graph", "iterative", "weighted"),
)
def graph_cheapest_path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded WEIGHTED shortest path (Bellman-Ford, 3 relaxation
    rounds) from supplier s1 over the trade graph, edge cost = cheapest
    order (fixed-point cents) between the pair — "cheapest ≤3-hop trade
    route", the weighted sibling of graph_bfs_hops. Runs through the
    generic blow_spark.ops.bellman_ford (per-round relax join +
    min-groupBy, pre-partitioned cached edges); integer costs make every
    relaxation exact, and the oracle unrolls the three rounds as nested
    CTEs exactly like the BFS and PageRank replays."""
    from blow_spark import ops

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c_node"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s_node"),
        )
        .agg(F.min(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("w"))
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c_node").alias("src"), F.col("s_node").alias("dst"), F.col("w")),
                F.struct(F.col("s_node").alias("src"), F.col("c_node").alias("dst"), F.col("w")),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    sources = spark.createDataFrame([("s1",)], "node string")
    return ops.bellman_ford(edges, sources, rounds=3).select(
        "node", F.col("cost").cast("long").alias("cost")
    )


@register(
    "sample_weighted_stratified",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(
               -ln((CAST(('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 1) / 4503599627370497.0)
               / n_chars, 9) AS k
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, rn AS sample_rank
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn
      FROM keyed
    ) t
    WHERE rn <= 50
    """,
    tags=("pipeline", "sampling", "weighted"),
)
def sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement, k=50 per source stratum,
    inclusion probability proportional to document length — the
    "prefer long documents when building the mixture" knob
    (``sample_stratified_exact_k`` is the uniform case). The
    Efraimidis–Spirakis exponential race: each row draws an
    Exp(rate = weight) key and the k SMALLEST keys win; u comes from an
    md5 hash-uniform (the repo's no-RNG rule — deterministic,
    task-retry-stable, identical on both engines), so the whole draw is
    reproducible and oracle-pairable. Keys are rounded to 9 decimals
    before ordering so a 1-ulp ln() difference between JVM and libm
    cannot reorder the race (the module's transcendental-determinism
    rule). One shuffle on source; the same hash-prefix prefilter as the
    uniform sampler applies at 100 TB: P(selected) decays exponentially
    in the key, so rows whose hash-uniform is far above ~k/|stratum|
    quantile can be pre-filtered before the window sort."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))), 1, 13),
            16, 10,
        ).cast("long")
        + 1
    ) / F.lit(4503599627370497.0)
    key = F.round(-F.log(u) / F.col("n_chars"), 9)
    w = W.partitionBy("source").orderBy(key.asc(), F.col("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 50)
    )


_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '2001-09-02'
|> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
|> AGGREGATE CAST(SUM(CAST(ROUND(l_quantity * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_qty_dm,
             SUM(CAST(ROUND(disc_price * 1000000, 0) AS DECIMAL(38,0))) AS sum_disc_raw,
             COUNT(*) AS count_order
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, sum_qty_dm,
          CAST(sum_disc_raw AS STRING) AS sum_disc_micro, count_order
"""


@register(
    "sql_pipe_syntax_front_door",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_qty_dm,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000, 0) AS HUGEINT)) AS VARCHAR) AS sum_disc_micro,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sql", "agg", "spark4", "pipe"),
)
def sql_pipe_syntax_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / ZetaSQL `|>` operators) through the
    front door: FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY — the
    linear top-to-bottom dialect that matches how pipelines read. The
    pipe form parses to the SAME logical plan as the nested-SELECT
    oracle (filter pushdown, two-phase aggregate — nothing about the
    dialect changes the physical plan), pinned by the cross-engine hash
    on fixed-point integer sums."""
    for t in ("lineitem",):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PIPE_SQL)


@register(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_totalprice BETWEEN 50000.0 AND 200000.0
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("sql", "spark4", "parameterized"),
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...}) binding `:name`
    markers) — the injection-safe front door a service layer uses;
    parameters bind as typed literals at parse time, so constant folding
    and pushdown see real constants (the BETWEEN bounds reach the
    parquet reader as PushedFilters exactly like inline literals). The
    oracle is the same query with the literals inlined."""
    for t in ("orders",):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders
        WHERE o_totalprice BETWEEN :lo AND :hi
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lo": 50000.0, "hi": 200000.0, "status": "F"},
    )


@register(
    "pack_bins_best_fit",
    oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(FLOOR(n_chars / 4.0) AS BIGINT) + 1 AS tokens
        FROM documents
    ), stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT)      AS n_docs,
               CAST(SUM(tokens) AS BIGINT)   AS total_tokens,
               CAST(MAX(tokens) AS BIGINT)   AS max_tokens
        FROM toks GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           CAST(CEIL(total_tokens / 512.0) AS BIGINT) AS n_bins_lb,
           1 AS bins_within_bound,
           1 AS all_docs_packed,
           1 AS no_overflow
    FROM stats
    """,
    tags=("pipeline", "packing", "udf", "llm"),
)
def pack_bins_best_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as BIN PACKING — best-fit-decreasing (BFD) into
    fixed 512-token bins, per source bucket. Unlike the
    concatenate-then-chunk form (`pack_token_stream_chunks`, which
    splits documents across chunk boundaries), bin packing keeps every
    document WHOLE — the variant used when crossing a sequence boundary
    would corrupt training examples — at the cost of per-bin slack.

    Distribution shape: documents shuffle once on the bucket key, each
    bucket runs classic BFD (sort by tokens desc, place into the
    fullest bin that still fits, deterministic doc_id tie-break) inside
    one applyInPandas group — the per-key opaque-fold pattern Catalyst
    cannot express (same family as the cogroup as-of join). At 100 TB
    the bucket key is salted to bound group size (bins never cross
    buckets, so sub-bucketing only forgoes cross-salt packing, it never
    breaks correctness); here source (~20 buckets of ≤ a few hundred
    docs) is the natural bucket.

    Oracle technique — a THEORY-BACKED inequality gate realized in the
    result rows (the recall-floor pattern): the per-source bin count is
    algorithm-specific, but any-fit packing guarantees are data-
    derivable. The query emits, per source, data-derived columns
    (n_docs, total_tokens, lb = ceil(total/cap)) plus three proof bits
    the oracle asserts true: (a) lb ≤ n_bins ≤ total div (cap −
    max_item) + 1 — every bin an any-fit algorithm closes except the
    last-opened holds > cap − max_item; (b) every document landed in
    exactly one bin; (c) no bin exceeds cap. A packing bug (overflow, a
    dropped doc, runaway bin count) flips a bit and the driver row goes
    red, while the exact bin layout stays the algorithm's business."""
    from blow_spark import ops

    CAP = 512
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        (F.floor(F.col("n_chars") / 4.0).cast("bigint") + 1).alias("tokens"),
    )
    bins = ops.pack_bins_best_fit(
        toks, bucket_col="source", id_col="doc_id", size_col="tokens", cap=CAP
    ).withColumnRenamed("bucket", "source")
    per_bin = bins.groupBy("source").agg(
        F.count("*").alias("n_bins"),
        F.sum("bin_docs").alias("packed_docs"),
        F.max("bin_fill").alias("max_fill"),
    )
    stats = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.max("tokens").alias("max_tokens"),
    )
    j = stats.join(per_bin, "source")
    lb = F.ceil(F.col("total_tokens") / F.lit(float(CAP))).cast("bigint")
    ub = F.expr(f"total_tokens div ({CAP} - max_tokens)") + 1
    return j.select(
        "source",
        "n_docs",
        "total_tokens",
        lb.alias("n_bins_lb"),
        ((F.col("n_bins") >= lb) & (F.col("n_bins") <= ub)).cast("int").alias(
            "bins_within_bound"
        ),
        (F.col("packed_docs") == F.col("n_docs")).cast("int").alias("all_docs_packed"),
        (F.col("max_fill") <= F.lit(CAP)).cast("int").alias("no_overflow"),
    )


@register(
    "sample_poisson_bootstrap",
    oracle="""
    WITH u AS (
      SELECT doc_id, source,
             (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(text), 6, 1)) - 1) AS u16
      FROM documents
    ), k AS (
      SELECT doc_id, source,
             CASE WHEN u16 < 24109 THEN 0
                  WHEN u16 < 48218 THEN 1
                  WHEN u16 < 60273 THEN 2
                  WHEN u16 < 64291 THEN 3
                  WHEN u16 < 65296 THEN 4
                  WHEN u16 < 65497 THEN 5
                  ELSE 6 END AS k
      FROM u
    )
    SELECT doc_id, source, CAST(UNNEST(range(1, k + 1)) AS INT) AS replica_no
    FROM k WHERE k > 0
    """,
    tags=("pipeline", "sampling", "bootstrap", "llm"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap resample — the distributed form of bootstrap
    resampling (public statistics literature; the streaming/MapReduce
    standard, e.g. Chamandy et al., "Estimating uncertainty for massive
    data streams", 2012): instead of drawing one multinomial over N
    documents (which needs global coordination), each document
    independently contributes k ~ Poisson(1) replicas. For large N the
    resample is distributionally indistinguishable from the classic
    bootstrap, and the plan is a pure MAP: no shuffle, no RNG state, no
    driver coordination — the property that makes bootstrap replicates
    (for variance estimates / bagging) feasible at 100 TB.

    Determinism (the house content-hash rule): the uniform is 16 bits of
    md5(text) (digits 3-6 — independent of the nibbles the split and
    mix recipes consume), and k comes from FIXED integer inverse-CDF
    thresholds of Poisson(1) (floor(CDF·2¹⁶): 24109, 48218, 60273,
    64291, 65296, 65497; capped at 6 — P(k>6) ≈ 8·10⁻⁵). Pure integer
    compares, so the oracle replays the exact replica multiset;
    task retries and re-ingestion under new doc_ids keep identical
    resamples (Spark's sample() is neither)."""
    docs = read_table(spark, sf_dir, "documents")
    u16 = F.conv(F.substring(F.md5("text"), 3, 4), 16, 10).cast("int")
    k = (
        F.when(u16 < 24109, 0)
        .when(u16 < 48218, 1)
        .when(u16 < 60273, 2)
        .when(u16 < 64291, 3)
        .when(u16 < 65296, 4)
        .when(u16 < 65497, 5)
        .otherwise(6)
    )
    return (
        docs.select("doc_id", "source", k.alias("k"))
        .filter(F.col("k") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("k"))).alias("replica_no"),
        )
    )


@register(
    "sample_negative_pairs",
    oracle=r"""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS BIGINT) AS r
      FROM documents
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked
    ), cand AS (
      SELECT a.doc_id AS anchor_doc_id, a.source AS anchor_source, j.j,
             ((a.r - 1) * 1000003 + j.j * 7919) % n.n + 1 AS neg_rank
      FROM ranked a
      CROSS JOIN (SELECT unnest(range(1, 5)) AS j) j
      CROSS JOIN n
    )
    SELECT c.anchor_doc_id,
           CAST(c.j AS BIGINT)  AS j,
           b.doc_id             AS neg_doc_id,
           c.anchor_source,
           b.source             AS neg_source
    FROM cand c JOIN ranked b ON b.r = c.neg_rank
    WHERE b.doc_id <> c.anchor_doc_id AND b.source <> c.anchor_source
    """,
    tags=("llm", "sampling", "contrastive"),
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document draws up to 4 pseudo-random negatives from OTHER sources
    via a multiplicative hash ring — docs are totally ordered by
    (md5(text), doc_id), each anchor at ring position r probes positions
    ((r-1)·1000003 + j·7919) mod N for j in 1..4, and probes landing on
    the anchor itself or on a same-source doc are discarded (so a pair's
    sources always differ — the label proxy for "true negative").

    Coordination-free and reproducible: the pair set is a pure function
    of corpus content, so re-runs, retries, and incremental rebuilds
    agree — the property hash-based splits already rely on
    (split_train_val_test). The ring multiplier is < 2^20, keeping
    (r-1)·1000003 within int64 up to N ≈ 9×10^12 docs; past that the
    product moves to DECIMAL(38,0) unchanged.

    Scale: the global ring position comes from ops.global_row_number
    (two-phase, no data-scale single-partition window); the probe join
    keys are uniform ring positions — a uniform integer shuffle join, no
    hot keys by construction. 4 probes/doc → output ∝ 4N."""
    from blow_spark import ops

    d = read_table(spark, sf_dir, "documents")
    ranked = ops.global_row_number(
        d.select("doc_id", "source", F.md5("text").alias("h")),
        [F.col("h"), F.col("doc_id")],
        out_col="r",
    ).select("doc_id", "source", "r")
    n = ranked.agg(F.count("*").cast("bigint").alias("n"))
    cand = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_doc_id"),
            F.col("source").alias("anchor_source"),
            F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
            "r",
            "n",
        )
        .withColumn(
            "neg_rank",
            ((F.col("r") - 1) * F.lit(1000003) + F.col("j") * F.lit(7919))
            % F.col("n")
            + 1,
        )
    )
    neg = ranked.select(
        F.col("r").alias("neg_rank"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("source").alias("neg_source"),
    )
    return (
        cand.join(neg, "neg_rank")
        .filter(
            (F.col("neg_doc_id") != F.col("anchor_doc_id"))
            & (F.col("neg_source") != F.col("anchor_source"))
        )
        .select(
            "anchor_doc_id",
            F.col("j").cast("bigint").alias("j"),
            "neg_doc_id",
            "anchor_source",
            "neg_source",
        )
    )


@register(
    "score_quantile_calibration",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS raw_score FROM documents
    ), per_src AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY raw_score, doc_id) AS BIGINT) AS rs,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      FROM scored
    ), gtab AS (
      SELECT raw_score AS g_score,
             CAST(ROW_NUMBER() OVER (ORDER BY raw_score, doc_id) AS BIGINT) AS rg
      FROM scored
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored
    ), mapped AS (
      SELECT p.doc_id, p.source, p.raw_score, p.rs,
             CASE WHEN p.ns > 1
                  THEN 1 + (p.rs - 1) * (n.n - 1) // (p.ns - 1)
                  ELSE (n.n + 1) // 2 END AS gidx
      FROM per_src p CROSS JOIN n
    )
    SELECT m.doc_id, m.source, m.raw_score, m.rs AS src_rank,
           m.gidx, g.g_score AS calibrated_score
    FROM mapped m JOIN gtab g ON g.rg = m.gidx
    """,
    tags=("llm", "quality", "calibration"),
)
def score_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a quality score — the
    calibration step a mixing pipeline needs before comparing scores
    produced under different source distributions (a "good" score from
    a clean source and one from a noisy source are not on the same
    scale; mapping each through its source's quantile onto the GLOBAL
    score distribution puts them there). Per-source rank rs of ns maps
    to global index 1 + (rs-1)(N-1) div (ns-1) — the pure-integer
    quantile interpolation, exact in both engines — and the calibrated
    score is the global order statistic at that index.

    Scale: per-source ranks are ordinary partitioned windows (parallel
    across sources); the single global order comes from
    ops.global_row_number (two-phase, no data-scale single-partition
    window); the final lookup is a uniform integer join on gidx. The
    int64 product (rs-1)(N-1) bounds N < ~3×10^9 per source-pair before
    a DECIMAL(38,0) upgrade is needed — documented envelope."""
    from blow_spark import ops

    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("raw_score")
    )
    per_src = scored.select(
        "*",
        F.row_number()
        .over(W.partitionBy("source").orderBy("raw_score", "doc_id"))
        .cast("bigint")
        .alias("rs"),
        F.count("*").over(W.partitionBy("source")).cast("bigint").alias("ns"),
    )
    glob = ops.global_row_number(
        scored.select(F.col("raw_score").alias("g_score"), "doc_id"),
        [F.col("g_score"), F.col("doc_id")],
        out_col="rg",
    ).select("g_score", "rg")
    n = scored.agg(F.count("*").cast("bigint").alias("n"))
    mapped = per_src.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "raw_score",
        F.col("rs").alias("src_rank"),
        F.when(
            F.col("ns") > 1,
            1 + F.expr("(rs - 1) * (n - 1) div (ns - 1)"),
        )
        .otherwise(F.expr("(n + 1) div 2"))
        .cast("bigint")
        .alias("gidx"),
    )
    return mapped.join(glob, mapped.gidx == glob.rg).select(
        "doc_id", "source", "raw_score", "src_rank", "gidx",
        F.col("g_score").alias("calibrated_score"),
    )


def _kcore_oracle(k: int, unroll: int) -> str:
    """Unrolled-peel DuckDB oracle for graph_kcore_decomposition.

    Peeling is monotone (the alive set only shrinks) and idempotent at
    the fixpoint, so unrolling MORE rounds than convergence needs is a
    no-op; ops.kcore raises if the Spark side ever needs more rounds
    than this unroll depth, keeping the pair honest."""
    steps = []
    prev = "a0"
    for i in range(1, unroll + 1):
        steps.append(
            f"a{i} AS MATERIALIZED (SELECT u AS n FROM adj "
            f"WHERE u IN (SELECT n FROM {prev}) AND v IN (SELECT n FROM {prev}) "
            f"GROUP BY u HAVING COUNT(*) >= {k})"
        )
        prev = f"a{i}"
    return f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), np AS MATERIALIZED (
      SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n FROM op
    ), pc AS MATERIALIZED (
      SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
    ), tsel AS MATERIALIZED (
      SELECT CAST(MIN(cand) AS BIGINT) AS t FROM (
        SELECT g.cand FROM (SELECT unnest(range(2, 17)) AS cand) g
        CROSS JOIN np
        WHERE (SELECT COUNT(*) FROM pc WHERE pc.c >= g.cand) <= 4 * np.n
      )
    ), e AS MATERIALIZED (
      SELECT u, v FROM pc CROSS JOIN tsel WHERE c >= tsel.t
    ), adj AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), a0 AS MATERIALIZED (
      SELECT DISTINCT u AS n FROM adj
    ), {", ".join(steps)}
    SELECT CAST(adj.u AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS core_degree,
           tsel.t AS co_threshold
    FROM adj CROSS JOIN tsel
    WHERE adj.u IN (SELECT n FROM {prev}) AND adj.v IN (SELECT n FROM {prev})
    GROUP BY adj.u, tsel.t
    """


_KCORE_K = 3
_KCORE_UNROLL = 16


@register(
    "graph_kcore_decomposition",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_UNROLL),
    tags=("graph", "iterative"),
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition of the part co-purchase graph — iterative
    peeling to the maximal subgraph where every part keeps >= 3
    co-purchase partners (ops.kcore), the density-backbone extraction
    used to clean association graphs before clustering.

    The graph is sparsified with a DATA-DERIVED co-occurrence threshold:
    the smallest t (>= 2) such that keeping only pairs co-ordered >= t
    times leaves at most 4 edges per original node — a bounded-average-
    degree rule both engines compute identically, which keeps the peel
    non-trivial at every fixture scale (a fixed t is either vacuously
    dense or empties the graph as sf changes). The oracle unrolls 16
    peel rounds — more than convergence ever needs here (4 at sf0.001,
    11 at sf0.01, pinned in tests); unrolling past the fixpoint is a
    no-op by monotonicity, and ops.kcore RAISES if Spark needs more
    rounds than the unroll, so the pair cannot silently diverge.

    Scale: pair counts are one (u,v)-keyed shuffle over the order×order
    self-join (bounded by basket sizes); threshold selection is a
    15-candidate aggregate over the pair table; each peel round is one
    node-keyed shuffle (ops.kcore)."""
    from blow_spark import ops
    from blow_spark.materialize import reused

    li = read_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    np_ = op.agg(F.countDistinct("p").cast("bigint").alias("n"))
    pc = (
        op.alias("a")
        .join(op.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    with reused(pc) as pc:
        cands = spark.range(1).select(
            F.explode(F.sequence(F.lit(2), F.lit(16))).alias("cand")
        )
        cand = pc.crossJoin(F.broadcast(cands)).filter(F.col("c") >= F.col("cand"))
        ne_by_cand = cand.groupBy("cand").agg(F.count("*").alias("ne"))
        tsel = (
            ne_by_cand.crossJoin(F.broadcast(np_))
            .filter(F.col("ne") <= 4 * F.col("n"))
            .agg(F.min("cand").cast("bigint").alias("t"))
        )
        e = pc.crossJoin(F.broadcast(tsel)).filter(F.col("c") >= F.col("t")).select(
            "u", "v", "t"
        )
        core = ops.kcore(e.select("u", "v"), k=_KCORE_K, max_iter=_KCORE_UNROLL)
    out = core.crossJoin(F.broadcast(tsel.select(F.col("t").alias("co_threshold"))))
    out.kcore_info = core.kcore_info
    return out


# --------------------------------------------------------------------------
# Filter-cascade attrition report
# --------------------------------------------------------------------------


@register(
    "pipeline_filter_attrition",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN LENGTH(text) >= 150 THEN 1 ELSE 0 END AS f1,
             CASE WHEN lang IN ('en', 'de', 'fr', 'es') THEN 1 ELSE 0 END AS f2,
             CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 40
                  THEN 1 ELSE 0 END AS f3,
             CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) >= 0.5
                  THEN 1 ELSE 0 END AS f4
      FROM documents
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s0,
             CAST(SUM(f1) AS BIGINT) AS s1,
             CAST(SUM(f1 * f2) AS BIGINT) AS s2,
             CAST(SUM(f1 * f2 * f3) AS BIGINT) AS s3,
             CAST(SUM(f1 * f2 * f3 * f4) AS BIGINT) AS s4
      FROM f
    )
    SELECT 1 AS stage, 'min_length' AS stage_name, s0 AS n_in, s1 AS n_kept,
           s0 - s1 AS n_dropped FROM s
    UNION ALL
    SELECT 2, 'lang_whitelist', s1, s2, s1 - s2 FROM s
    UNION ALL
    SELECT 3, 'min_tokens', s2, s3, s2 - s3 FROM s
    UNION ALL
    SELECT 4, 'distinct_ratio', s3, s4, s3 - s4 FROM s
    """,
    tags=("pipeline", "quality", "observability"),
)
def pipeline_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade attrition report: the curation funnel (min length →
    language whitelist → min token count → distinct-token ratio) scored
    as SEQUENTIAL stages — stage k's input is stage k−1's survivors, so
    the report shows where the corpus actually dies, the first artifact
    a pipeline owner asks for when yield drops. One corpus pass computes
    all four stage flags map-side; the cumulative-AND sums come back in
    a SINGLE aggregate row and unpivot to the 4-row funnel via stack —
    no per-stage re-scan, no shuffle beyond the one aggregate (vs
    ``dq_quarantine_split``'s independent per-rule census: attrition
    composes the rules in order). Integer counts only."""
    d = read_table(spark, sf_dir, "documents")
    n_tokens = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    toks = F.split("text", " ")
    f1 = (F.length("text") >= 150).cast("long")
    f2 = F.col("lang").isin("en", "de", "fr", "es").cast("long")
    f3 = (n_tokens >= 40).cast("long")
    f4 = (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.5
    ).cast("long")
    s = d.agg(
        F.count("*").cast("long").alias("s0"),
        F.sum(f1).cast("long").alias("s1"),
        F.sum(f1 * f2).cast("long").alias("s2"),
        F.sum(f1 * f2 * f3).cast("long").alias("s3"),
        F.sum(f1 * f2 * f3 * f4).cast("long").alias("s4"),
    )
    return s.select(
        F.expr(
            "stack(4, "
            "1, 'min_length',     s0, s1, "
            "2, 'lang_whitelist', s1, s2, "
            "3, 'min_tokens',     s2, s3, "
            "4, 'distinct_ratio', s3, s4) AS (stage, stage_name, n_in, n_kept)"
        )
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "stage_name",
        "n_in",
        "n_kept",
        (F.col("n_in") - F.col("n_kept")).cast("long").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# Leakage-safe split: near-dup clusters never straddle train/val/test
# --------------------------------------------------------------------------


@register(
    "split_leakage_safe",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS doc, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), base AS (
      SELECT doc,
             list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM toks
      WHERE len(t) >= 3
    ), exploded AS (
      SELECT doc, unnest(sh) AS g FROM base
    ), rare AS (
      SELECT g FROM exploded GROUP BY g HAVING COUNT(*) <= 50
    ), blocked AS (
      SELECT e.doc, e.g FROM exploded e JOIN rare USING (g)
    ), cand AS (
      SELECT DISTINCT l.doc AS id_a, r.doc AS id_b
      FROM blocked l JOIN blocked r ON l.g = r.g AND l.doc < r.doc
    ), pairs AS (
      SELECT id_a, id_b
      FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM cand
        JOIN base a ON a.doc = id_a
        JOIN base b ON b.doc = id_b) s
      WHERE jaccard >= 0.4
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ), comp AS (
      SELECT node, MIN(comp) AS comp FROM reach GROUP BY node
    ), asg AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster,
             CASE WHEN substr(md5(d.text), 1, 1) <= 'b' THEN 'train'
                  WHEN substr(md5(d.text), 1, 1) <= 'd' THEN 'val'
                  ELSE 'test' END AS naive_split
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ), canon AS (
      SELECT a.doc_id, a.cluster, a.naive_split,
             CASE WHEN substr(md5(d2.text), 1, 1) <= 'b' THEN 'train'
                  WHEN substr(md5(d2.text), 1, 1) <= 'd' THEN 'val'
                  ELSE 'test' END AS split
      FROM asg a JOIN documents d2 ON d2.doc_id = a.cluster
    ), leaky AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS naive_leaky_clusters
      FROM (SELECT cluster FROM canon
            GROUP BY cluster HAVING COUNT(DISTINCT naive_split) > 1) x
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           (SELECT naive_leaky_clusters FROM leaky) AS naive_leaky_clusters
    FROM canon
    GROUP BY split
    """,
    tags=("pipeline", "split", "dedup", "llm"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are first clustered
    by exact n-gram Jaccard near-duplication (the `dedup_clusters`
    machinery — rare-shingle blocking → exact Jaccard ≥ 0.4 → connected
    components), then the WHOLE cluster is assigned by the content hash
    of its canonical (min-id) member — so two near-duplicate documents
    can never land in different splits, the contamination mode a plain
    per-document hash split (`split_train_val_test`) cannot rule out.
    The emitted `naive_leaky_clusters` column is the count of clusters
    the naive rule WOULD have split across sets — data-derived,
    oracle-checked, and non-zero on the fixture, so the gate proves the
    operator prevents real leakage, not hypothetical leakage.

    Scale shape: pair generation is the blocked Jaccard join (fan-out
    bounded by rare-shingle blocking), components run on the candidate
    graph only (edges ≪ docs), and the final assignment broadcasts the
    (cluster → canonical split) lookup restricted to REAL dup-cluster
    canonicals (∝ duplicate clusters, bounded by pair density — never
    corpus size; un-clustered docs take their own hash split through a
    coalesce, no lookup row at all) — at 100 TB the corpus-scale passes
    are the shingle explode and one join, identical to the production
    dedup pipeline this composes with."""
    from blow_spark import dedup

    d = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", threshold=0.4
    )
    comp = dedup.connected_components(pairs)
    nib = F.substring(F.md5("text"), 1, 1)
    split_rule = (
        F.when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test")
    )
    asg = (
        d.select("doc_id", split_rule.alias("naive_split"))
        .join(
            comp.select(
                F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster", "doc_id").cast("long").alias("cluster"),
            "naive_split",
        )
    )
    # Broadcast side restricted to REAL dup-cluster canonicals: semi-join
    # the (canonical doc_id -> split) lookup against the distinct component
    # ids, so its row count is bounded by pair density (dup clusters), never
    # corpus size. Un-clustered docs (cluster == doc_id) have no lookup row
    # and take their own hash split via the coalesce below — value-identical,
    # since a singleton's canonical member IS itself.
    dup_clusters = comp.select(F.col("comp").alias("cluster")).distinct()
    canon_split = d.select(
        F.col("doc_id").alias("cluster"), split_rule.alias("split")
    ).join(dup_clusters, "cluster", "left_semi")
    canon = asg.join(F.broadcast(canon_split), "cluster", "left").withColumn(
        "split", F.coalesce("split", "naive_split")
    )
    leaky = (
        canon.groupBy("cluster")
        .agg(F.countDistinct("naive_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("long").alias("naive_leaky_clusters"))
    )
    return (
        canon.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cluster").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
        .select("split", "n_docs", "n_clusters", "naive_leaky_clusters")
    )


_KFOLD = 5


@register(
    "split_kfold_cv",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST((ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) - 1)
                % {_KFOLD} AS BIGINT) AS fold
    FROM documents
    """,
    tags=("pipeline", "split", "cv"),
)
def split_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k=5): documents
    are totally ordered by content hash (md5(text), doc_id tiebreak — a
    uniform-random but reproducible, task-retry-stable order, the repo's
    no-RNG rule) and dealt round-robin by global rank, so fold sizes are
    EXACTLY balanced (±1 doc) — the property hash-split folds only have
    in expectation, and the reason sklearn's KFold deals by position.
    Emits the join-ready (doc_id, source, fold) assignment table that
    downstream train/eval jobs consume.

    The global rank comes from ops.global_row_number — range-partition
    on the hash, row_number within partitions, partition-offset
    broadcast — NO data-scale single-partition window (the scalable
    identity proven in sort_equidepth_global_rank). For grouped-leakage
    concerns, split_leakage_safe is the cluster-aware sibling; this is
    the IID form."""
    from blow_spark import ops

    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.md5("text").alias("__h"),
    )
    ranked = ops.global_row_number(d, [F.col("__h"), F.col("doc_id")], out_col="__rank")
    return ranked.select(
        "doc_id",
        "source",
        ((F.col("__rank") - 1) % _KFOLD).cast("bigint").alias("fold"),
    )


def _lpa_oracle(rounds: int) -> str:
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""l{i} AS MATERIALIZED (
              SELECT node, label FROM (
                SELECT a.u AS node, l.label, COUNT(*) AS c,
                       ROW_NUMBER() OVER (PARTITION BY a.u
                         ORDER BY COUNT(*) DESC, l.label ASC) AS rn
                FROM adj a JOIN {prev} l ON a.v = l.node
                GROUP BY a.u, l.label
              ) t WHERE rn = 1)"""
        )
        prev = f"l{i}"
    return f"""
    WITH sp AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), adj AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS label FROM adj
    ), {", ".join(steps)}
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM {prev} GROUP BY label
    """


_LPA_ROUNDS = 3


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(_LPA_ROUNDS),
    tags=("graph", "iterative", "community"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., Phys. Rev. E 2007)
    for community detection on the supplier co-part graph (same edge
    derivation as graph_triangle_count): every node starts labeled with
    its own id; each round it adopts the most frequent label among its
    neighbors, ties broken by smallest label — the deterministic
    synchronous variant, so the result is a pure function of the edge
    set and the round count, which is what makes an iterative community
    algorithm oracle-pairable (the oracle unrolls the identical 3 rounds
    as CTEs with the identical COUNT-desc/label-asc argmax). Emits the
    community-size histogram after 3 rounds.

    Scale shape: the per-round work is one join of the label table
    against the adjacency list pre-partitioned ON THE JOIN KEY (v) and
    persisted once — every round co-locates against it, the same
    pre-partitioned-edges pattern measured at 1.64x/10x for pagerank —
    followed by a (node, label)-keyed count and a per-node argmax window
    bounded by degree, never data-scale. Each round's label table is a
    ``checkpoint_sublinear`` cut. Async LPA converges faster but is
    order-dependent; synchronous rounds are the price of determinism
    (documented trade-off, same stance as the unrolled BFS/Bellman-Ford
    family)."""
    from blow_spark.materialize import checkpoint_sublinear, reused

    li = read_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    e0 = (
        sp.alias("a")
        .join(sp.alias("b"), (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    adj = (
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(F.col("v"))
    )
    with reused(adj) as adj:
        labels = adj.select(F.col("u").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        for _ in range(_LPA_ROUNDS):
            nbr = adj.join(labels, adj.v == labels.node).select(
                F.col("u").alias("node"), "label"
            )
            cnt = nbr.groupBy("node", "label").agg(F.count("*").alias("c"))
            # round-14 optimization: the per-node argmax used
            # to be a row_number window (an extra sort after the (node,
            # label) count shuffle); max(struct(c, -label)) computes the
            # identical COUNT-desc/label-asc winner inside an ordinary
            # hash aggregate — same tie-break (max c, then max(-label) =
            # min label), one sort less per round
            labels = checkpoint_sublinear(
                cnt.groupBy("node")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                    ).alias("m")
                )
                .select("node", (-F.col("m.nl")).alias("label"))
            )
    out = labels.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    return out


_SYS_K = 25  # systematic sampling stride


@register(
    "sample_systematic_every_kth",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS rank
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE (rank - 1) % {_SYS_K} = 0
    """,
    tags=("pipeline", "sample"),
)
def sample_systematic_every_kth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling over a content-hash total order:
    rows ranked by md5(text) — a deterministic pseudo-shuffle, the same
    device as split_kfold_cv — then every 25th row kept. Systematic
    sampling over a hashed order gives per-stratum balance a Bernoulli
    sample only achieves in expectation (exactly ⌈n/k⌉ rows, evenly
    spread through the hash space), which is why survey pipelines
    prefer it for fixed-size audit samples.

    Scale: the rank comes from ops.global_row_number (two-phase range
    rank; the one single-partition window is the per-partition offsets
    table — whitelisted constant-size); the modulo filter is map-side.
    Output size is exactly n/{_SYS_K}."""
    from blow_spark import ops

    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    ranked = ops.global_row_number(
        keyed, [F.col("h").asc(), F.col("doc_id").asc()], out_col="rank"
    )
    return ranked.filter((F.col("rank") - 1) % _SYS_K == 0).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u FROM e UNION ALL SELECT v FROM e) t(u)
      GROUP BY u
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT SUM(CAST(d AS HUGEINT) * (d - 1) // 2) FROM deg)
                AS BIGINT) AS n_wedges,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
           ROUND(3.0 * (SELECT COUNT(*) FROM tri)
                 / CAST((SELECT SUM(CAST(d AS HUGEINT) * (d - 1) // 2)
                         FROM deg) AS DOUBLE), 6) AS global_cc
    """,
    tags=("graph", "join"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the supplier
    co-part graph: 3·triangles / wedges, where a wedge is any 2-path
    centered on a node (Σ d(d−1)/2 over the degree census) — the
    standard one-number cohesion metric next to the raw triangle count
    (Watts & Strogatz 1998 define the local variant; this is the
    Newman global form). Shares graph_triangle_count's canonical-edge
    wedge-join shape (each triangle counted once as a<b<c, so the 3×
    factor restores per-wedge closure counting).

    Scale: the edge list is cut once (``checkpoint_sublinear``) and
    feeds the degree census (one map-side-combinable groupBy over 2|E|
    endpoint rows) and the two broadcast wedge joins; d(d−1)/2 widens
    to DECIMAL(38,0)/HUGEINT before summing (a 10^6-degree hub alone
    contributes 5·10^11 wedges). At 100 TB the wedge join flips to
    degree-ordered orientation exactly as graph_triangle_count's
    docstring notes."""
    from blow_spark.materialize import checkpoint_sublinear

    li = read_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    e = checkpoint_sublinear(
        sp.alias("a")
        .join(
            sp.alias("b"),
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (
            F.sum(
                F.col("d").cast("decimal(38,0)") * (F.col("d") - 1)
            )
            / 2
        )
        .cast("bigint")
        .alias("n_wedges"),
    )
    tri = (
        e.alias("e1")
        .join(F.broadcast(e.alias("e2")), F.col("e2.u") == F.col("e1.v"))
        .join(
            F.broadcast(e.alias("e3")),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return (
        wedges.crossJoin(tri)
        .select(
            "n_nodes",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"), 6
            ).alias("global_cc"),
        )
    )


_NAMED_WINDOW_SQL = """
SELECT c_custkey,
       c_mktsegment,
       CAST(RANK() OVER w_bal AS BIGINT) AS bal_rank,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) OVER w_run AS BIGINT)
         AS seg_running_cents,
       CAST(COUNT(*) OVER w_seg AS BIGINT) AS seg_size
FROM customer
WHERE c_custkey <= 600
WINDOW w_seg AS (PARTITION BY c_mktsegment),
       w_bal AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey),
       w_run AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "sql_named_window_front_door",
    oracle=_NAMED_WINDOW_SQL,
    tags=("sql", "window"),
)
def sql_named_window_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause through the SQL front door with ONE shared
    query text: three named specs over one partitioning (bare, ordered,
    framed) — stated once in the WINDOW clause and referenced by name
    per expression, resolved identically by both engines or the hash
    breaks. (ANSI window INHERITANCE — `w2 AS (w1 ORDER BY ...)` — is a
    DuckDB extension Spark's parser rejects, so the shared text uses
    independent specs; the plan consequence below is identical.)
    The running sum is over exact cent integers (catalog fixed-point
    convention) and the rank key (acctbal DESC, custkey) is total.

    Scale: all three windows share ONE partitioning (c_mktsegment), so
    the physical plan is a single hash-partition exchange + one sort —
    the named-window form isn't just sugar; it's how an analyst states
    'these analytics share a shuffle' declaratively."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_NAMED_WINDOW_SQL)


_FILTER_CLAUSE_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
         AS n_discounted,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
            FILTER (WHERE l_linestatus = 'F') AS BIGINT)
         AS finished_cents,
       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 30)
            AS BIGINT) AS bulk_suppliers
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "sql_filter_clause_front_door",
    oracle=_FILTER_CLAUSE_SQL,
    tags=("sql", "agg"),
)
def sql_filter_clause_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clause through the SQL front door, ONE
    shared query text: per-aggregate predicates (plain count, filtered
    count, filtered fixed-point SUM, filtered COUNT DISTINCT) — the
    standard way to compute many conditional aggregates in one pass
    without CASE pyramids. Both engines fold every FILTER into the
    same single grouped aggregate; the filtered-distinct is the
    interesting one (it must not collapse with the global count).

    Scale: one keyed aggregate over the fact table; the distinct adds
    the usual expand-shuffle and everything else stays map-side
    combinable — same plan class as agg_multi_distinct."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_FILTER_CLAUSE_SQL)


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CAST(FLOOR(value / 100) AS BIGINT) AS tier,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'signup'
    ), fact AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS amount_cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.amount_cents,
           d.tier AS tier_at_purchase
    FROM fact f
    JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    ORDER BY f.event_id
    """,
    tags=("join", "scd2", "cdc", "events"),
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension — THE warehouse
    pattern for 'what was the customer's tier WHEN they purchased':
    signup events form the type-2 changelog (each change opens a
    validity interval, the live row keeps valid_to NULL — the same
    derivation cdc_state_intervals_scd2 certifies), and each purchase
    matches the one interval containing its timestamp. SCD2
    half-open intervals per key never overlap BY CONSTRUCTION, so the
    containment join is 1:≤1 — a purchase before the user's first
    signup simply drops (inner semantics, pinned by the oracle).

    Scale: both sides shuffle ONCE on user_id and the interval
    predicate evaluates inside the per-user hash-join partition — the
    bounded-fanout equi+range shape every point-in-time lookup
    compiles to (the as-of window form in ops.asof_join is the
    sort-based twin; this is the interval-table front door)."""
    e = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.floor(F.col("value") / 100).cast("bigint").alias("tier"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumnRenamed("user_id", "d_user")
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("amount_cents"),
    )
    return (
        fact.join(
            dim,
            (F.col("d_user") == F.col("user_id"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "event_id",
            "user_id",
            "amount_cents",
            F.col("tier").alias("tier_at_purchase"),
        )
        .orderBy("event_id")
    )


@register(
    "sample_class_balance",
    oracle="""
    WITH sizes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), k AS (
      SELECT MIN(n) AS k_min FROM sizes
    ), ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS sample_rank,
           k.k_min AS class_size
    FROM ranked r CROSS JOIN k
    WHERE r.rn <= k.k_min
    """,
    tags=("pipeline", "sampling", "ml"),
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents, chosen by content hash — the
    deterministic majority-class undersampler that precedes any
    classifier fit on skewed labels (the fixture is ~3:1 en-heavy; the
    output is exactly |classes|×k_min rows, so a class-prior-free model
    sees a uniform label distribution). The hash order is the repo's
    no-RNG uniform (task-retry-stable, oracle-pairable), identical to
    sample_stratified_exact_k's — the difference is that k here is
    DATA-DERIVED (the min class census) instead of a constant.

    Scale: one label-keyed census (a tiny broadcast), one label-keyed
    window; the same hash-prefix pre-filter as the stratified sampler
    makes the per-class sort survivor-sized at 100 TB (SCALE.md)."""
    d = read_table(spark, sf_dir, "documents")
    k = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("k_min"))
    )
    w = W.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("sample_rank")
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("sample_rank") <= F.col("k_min"))
        .select("doc_id", "lang", "sample_rank", F.col("k_min").alias("class_size"))
    )


_NEYMAN_TOTAL = 300  # total sample budget across strata


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH c AS (
      SELECT c_mktsegment AS seg, c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), mom AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(bal) AS BIGINT) AS sx,
             CAST(SUM(CAST(bal AS HUGEINT) * bal) AS DOUBLE) AS sxx
      FROM c GROUP BY seg
    ), sd AS (
      SELECT seg, n_pop,
             SQRT((sxx - CAST(sx AS DOUBLE) * sx / n_pop) / n_pop) AS sdv
      FROM mom
    ), wgt AS (
      SELECT seg, n_pop,
             CAST(ROUND(sdv) AS BIGINT) AS sd_cents,
             CAST(ROUND(n_pop * sdv) AS BIGINT) AS w
      FROM sd
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM wgt
    ), alloc AS (
      SELECT seg, n_pop, sd_cents,
             CAST(ROUND({_NEYMAN_TOTAL} * CAST(w AS DOUBLE) / wtot)
                  AS BIGINT) AS alloc_n
      FROM wgt CROSS JOIN tot
    ), ranked AS (
      SELECT seg, bal,
             ROW_NUMBER() OVER (
               PARTITION BY seg
               ORDER BY CAST(('0x' || substring(
                 md5('ney:' || CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT),
                 c_custkey) AS rk
      FROM c
    ), sampled AS (
      SELECT r.seg,
             CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(r.bal) AS BIGINT) AS s_bal
      FROM ranked r JOIN alloc a ON a.seg = r.seg
      WHERE r.rk <= a.alloc_n
      GROUP BY r.seg
    )
    SELECT a.seg, a.n_pop, a.sd_cents, a.alloc_n, s.n_sampled,
           CAST(ROUND(CAST(s.s_bal AS DOUBLE) / s.n_sampled) AS BIGINT)
             AS sample_mean_cents
    FROM alloc a JOIN sampled s ON s.seg = a.seg
    ORDER BY a.seg
    """,
    tags=("sampling", "stratified", "customer"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling (Neyman, JRSS 1934): a fixed
    budget of {_NEYMAN_TOTAL} rows is allocated across market-segment
    strata ∝ N_h·σ_h — the minimum-variance allocation for estimating
    the population mean, the principled upgrade over the proportional
    and class-balanced samplers beside it. Selection within a stratum
    is the catalog's deterministic hash order (md5(custkey) with key
    tiebreak), so the sampled set is reproducible and oracle-replayable.

    Engine-exact: per-stratum variance uses exact HUGEINT/DECIMAL
    moments with deterministic casts; the allocation weight N_h·σ_h
    rounds to a BIGINT per stratum BEFORE the cross-stratum total (no
    float sum order); allocations and sampled means are single
    divisions of identical operands.

    Scale: one stratum-keyed moment aggregate (map-side combinable),
    a 5-row allocation broadcast, and ONE stratum-partitioned
    ROW_NUMBER window — keyed by stratum, so parallel across strata;
    within-stratum sort is the documented cost (strata are value
    domains; a skewed stratum sorts N_h rows, the same bound as every
    per-key top-k in the catalog)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    mom = c.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.sum("bal").cast("bigint").alias("sx"),
        F.sum(F.col("bal").cast("decimal(19,0)") * F.col("bal"))
        .cast("double")
        .alias("sxx"),
    )
    sdv = F.sqrt(
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n_pop"))
        / F.col("n_pop")
    )
    wgt = mom.select(
        "seg",
        "n_pop",
        F.round(sdv).cast("bigint").alias("sd_cents"),
        F.round(F.col("n_pop") * sdv).cast("bigint").alias("w"),
    )
    tot = wgt.agg(F.sum("w").cast("bigint").alias("wtot"))
    alloc = wgt.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n_pop",
        "sd_cents",
        F.round(
            _NEYMAN_TOTAL * F.col("w").cast("double") / F.col("wtot")
        )
        .cast("bigint")
        .alias("alloc_n"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ney:"), F.col("c_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    ranked = c.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("seg").orderBy(h.asc(), F.col("c_custkey").asc())
        ),
    )
    sampled = (
        ranked.join(F.broadcast(alloc.select("seg", "alloc_n")), "seg")
        .where(F.col("rk") <= F.col("alloc_n"))
        .groupBy("seg")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("bal").cast("bigint").alias("s_bal"),
        )
    )
    return (
        alloc.join(sampled, "seg")
        .select(
            "seg",
            "n_pop",
            "sd_cents",
            "alloc_n",
            "n_sampled",
            F.round(F.col("s_bal").cast("double") / F.col("n_sampled"))
            .cast("bigint")
            .alias("sample_mean_cents"),
        )
        .orderBy("seg")
    )
