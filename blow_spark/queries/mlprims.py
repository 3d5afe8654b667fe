"""Round-10 distributed-ML primitives.

The two feature-engineering/training steps every large-scale tabular-ML
system runs inside the data engine rather than the trainer:

* histogram-based best-split finding (the inner loop of
  XGBoost/LightGBM tree growth — Chen & Guestrin KDD'16 §3.3's
  approximate/histogram algorithm): candidate thresholds come from the
  value-grain histogram, split quality from prefix sums over it;
* quantile normalization (Bolstad et al. Bioinformatics'03): map each
  source's values onto the GLOBAL value distribution by rank — the
  cross-source feature-alignment transform.

Reference parity note: the reference engine (wizgrao/blow,
maps/maps.go:8-21) has no aggregation or ranking surface; these extend
the statistics family (queries/stats*.py) with trainer-side primitives.

Engine-exactness: both operators use Gini impurity / type-1 order
statistics specifically so everything stays in BIGINT integer
arithmetic (no entropy logs, no interpolated quantiles); each output
double is one final division of identical integer operands.

Scale design: both reduce the corpus to the bounded n_chars VALUE
DOMAIN (≤ ~550 distinct values at any corpus size) with one keyed
count before any window; the cumulative windows run over that bounded
table (whitelisted, same class as stats_mann_whitney_u) and the
rank→value mapping table is broadcast (≤ domain-size rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blow_spark.queries import register
from blow_spark.sources import read_table


@register(
    "ml_tree_split_gini",
    oracle="""
    WITH counts AS (
      SELECT n_chars AS v,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS cp,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM documents
      GROUP BY n_chars
    ), cum AS (
      SELECT v,
             SUM(cp)  OVER (ORDER BY v) AS pos_l,
             SUM(tot) OVER (ORDER BY v) AS n_l,
             SUM(cp)  OVER () AS pos_all,
             SUM(tot) OVER () AS n_all
      FROM counts
    ), cand AS (
      SELECT v AS threshold,
             CAST(n_l AS BIGINT) AS n_left,
             CAST(pos_l AS BIGINT) AS pos_left,
             CAST(n_all - n_l AS BIGINT) AS n_right,
             CAST(pos_all - pos_l AS BIGINT) AS pos_right,
             CAST(n_all AS BIGINT) AS n_all,
             CAST(pos_all AS BIGINT) AS pos_all
      FROM cum
      WHERE n_l > 0 AND n_all - n_l > 0
    ), scored AS (
      SELECT threshold, n_left, pos_left, n_right, pos_right,
             CAST(ROUND((
               (1.0 - (CAST(pos_all AS DOUBLE) * pos_all
                       + CAST(n_all - pos_all AS DOUBLE) * (n_all - pos_all))
                      / (CAST(n_all AS DOUBLE) * n_all))
               - (CAST(n_left AS DOUBLE) / n_all)
                 * (1.0 - (CAST(pos_left AS DOUBLE) * pos_left
                           + CAST(n_left - pos_left AS DOUBLE)
                             * (n_left - pos_left))
                          / (CAST(n_left AS DOUBLE) * n_left))
               - (CAST(n_right AS DOUBLE) / n_all)
                 * (1.0 - (CAST(pos_right AS DOUBLE) * pos_right
                           + CAST(n_right - pos_right AS DOUBLE)
                             * (n_right - pos_right))
                          / (CAST(n_right AS DOUBLE) * n_right))
             ) * 1000000000) AS BIGINT) AS gain_e9
      FROM cand
    )
    SELECT threshold, n_left, pos_left, n_right, pos_right, gain_e9
    FROM scored
    ORDER BY gain_e9 DESC, threshold
    LIMIT 1
    """,
    tags=("ml", "stats", "documents"),
)
def ml_tree_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based best-split finding — the inner loop of gradient-
    boosted-tree training (XGBoost's approximate algorithm, Chen &
    Guestrin KDD'16; LightGBM's histogram mode): the best threshold on
    the n_chars feature for the lang='en' label by Gini impurity
    reduction. Candidate thresholds are the VALUE-GRAIN boundaries
    (never per-row), split statistics are prefix sums over the value
    histogram, and Gini (unlike entropy) keeps the gain a pure rational
    of BIGINTs: gain = G_parent − (nₗ/n)Gₗ − (nᵣ/n)Gᵣ with
    G = 1 − (pos² + neg²)/n², fix-pointed at e9 per CANDIDATE (single
    divisions of identical integers → IEEE-identical both engines),
    argmax with a total threshold tiebreak.

    Scale: one value-keyed count reduces the corpus to the n_chars
    domain (≤ ~550 rows at any N — the histogram-algorithm property
    that makes split finding constant-cost per feature); the cumulative
    windows run over that bounded table (whitelisted, same class as
    stats_mann_whitney_u). This is exactly how a 1000-executor trainer
    scans 100 TB once and grows the tree from broadcastable
    histograms."""
    d = read_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.col("n_chars").alias("v"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy("v")
        .agg(F.sum("is_pos").alias("cp"), F.count("*").alias("tot"))
    )
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = counts.select(
        "v",
        F.sum("cp").over(w_cum).alias("pos_l"),
        F.sum("tot").over(w_cum).alias("n_l"),
        F.sum("cp").over(w_all).alias("pos_all"),
        F.sum("tot").over(w_all).alias("n_all"),
    )
    cand = cum.where(
        (F.col("n_l") > 0) & (F.col("n_all") - F.col("n_l") > 0)
    ).select(
        F.col("v").alias("threshold"),
        F.col("n_l").cast("bigint").alias("n_left"),
        F.col("pos_l").cast("bigint").alias("pos_left"),
        (F.col("n_all") - F.col("n_l")).cast("bigint").alias("n_right"),
        (F.col("pos_all") - F.col("pos_l")).cast("bigint").alias("pos_right"),
        F.col("n_all").cast("bigint").alias("n_all"),
        F.col("pos_all").cast("bigint").alias("pos_all"),
    )

    def gini(pos, n):
        neg = n - pos
        return F.lit(1.0) - (
            pos.cast("double") * pos + neg.cast("double") * neg
        ) / (n.cast("double") * n)

    n_all, pos_all = F.col("n_all"), F.col("pos_all")
    gain = (
        gini(pos_all, n_all)
        - (F.col("n_left").cast("double") / n_all)
        * gini(F.col("pos_left"), F.col("n_left"))
        - (F.col("n_right").cast("double") / n_all)
        * gini(F.col("pos_right"), F.col("n_right"))
    )
    scored = cand.select(
        "threshold",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round(gain * 1e9).cast("bigint").alias("gain_e9"),
    )
    return scored.orderBy(F.desc("gain_e9"), "threshold").limit(1)


@register(
    "ml_quantile_normalize",
    oracle="""
    WITH gcounts AS (
      SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS tot
      FROM documents GROUP BY n_chars
    ), gmap AS (
      SELECT v,
             SUM(tot) OVER (ORDER BY v) - tot + 1 AS lo,
             SUM(tot) OVER (ORDER BY v) AS hi,
             SUM(tot) OVER () AS n_all
      FROM gcounts
    ), src AS (
      SELECT doc_id, source, n_chars AS v,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM documents
    ), mapped AS (
      SELECT s.doc_id, s.source, s.v,
             CAST((2 * s.r - 1) * g.n_all // (2 * s.n_src)
                  + CAST(((2 * s.r - 1) * g.n_all % (2 * s.n_src)) > 0
                         AS BIGINT) AS BIGINT) AS g_rank,
             g2.v AS v_norm
      FROM src s
      CROSS JOIN (SELECT DISTINCT n_all FROM gmap) g
      JOIN gmap g2
        ON CAST((2 * s.r - 1) * g.n_all // (2 * s.n_src)
                + CAST(((2 * s.r - 1) * g.n_all % (2 * s.n_src)) > 0
                       AS BIGINT) AS BIGINT) BETWEEN g2.lo AND g2.hi
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(v) AS BIGINT) AS sum_raw,
           CAST(SUM(v_norm) AS BIGINT) AS sum_norm,
           CAST(MIN(v_norm) AS BIGINT) AS min_norm,
           CAST(MAX(v_norm) AS BIGINT) AS max_norm
    FROM mapped
    GROUP BY source
    ORDER BY source
    """,
    tags=("ml", "stats", "documents"),
)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (Bolstad et al. Bioinformatics'03): map
    each source's n_chars values onto the GLOBAL value distribution by
    within-source rank — the transform that makes per-source feature
    distributions identical before cross-source training. Each value's
    within-source rank r maps to the type-1 global order statistic at
    position ⌈(2r−1)·N / (2·n_src)⌉ (midpoint rank, ceiling division
    done in INTEGER arithmetic — no doubles anywhere), looked up
    against the global value-grain histogram's [lo, hi] rank intervals.
    Per-source sums/extrema of the normalized values are exact BIGINTs.

    Scale: the global histogram is value-DOMAIN-sized (≤ ~550 rows at
    any N) — its cumulative window is whitelisted and the rank-interval
    table BROADCASTS to the per-source rank join, so the corpus-sized
    side never shuffles for the lookup; within-source ranks come from
    one partitioned (parallel) window."""
    d = read_table(spark, sf_dir, "documents")
    gcounts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("tot")
    )
    from blow_spark.materialize import spill_to_parquet

    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # the domain-bounded rank-interval map feeds two branches (the
    # n_all scalar and the interval join); spilled so the histogram
    # scan + cumulative window runs once
    gmap = spill_to_parquet(
        gcounts.select(
            "v",
            (F.sum("tot").over(w_cum) - F.col("tot") + 1).alias("lo"),
            F.sum("tot").over(w_cum).alias("hi"),
            F.sum("tot").over(w_all).alias("n_all"),
        ),
        "blow_spark_qnorm_gmap_",
    )
    src = d.select(
        "doc_id",
        "source",
        F.col("n_chars").alias("v"),
        F.row_number()
        .over(W.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count("*").over(W.partitionBy("source")).alias("n_src"),
    )
    # integer ceiling division: q = a div b + (a mod b > 0)
    a = (2 * F.col("r") - 1) * F.col("n_all")
    b = 2 * F.col("n_src")
    g_rank = (
        F.expr(
            "(2 * r - 1) * n_all div (2 * n_src)"
        )
        + ((a % b) > 0).cast("bigint")
    ).cast("bigint")
    mapped = (
        src.crossJoin(F.broadcast(gmap.select("n_all").distinct()))
        .withColumn("g_rank", g_rank)
        .join(
            F.broadcast(gmap.select(F.col("v").alias("v_norm"), "lo", "hi")),
            (F.col("g_rank") >= F.col("lo")) & (F.col("g_rank") <= F.col("hi")),
        )
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("v").cast("bigint").alias("sum_raw"),
            F.sum("v_norm").cast("bigint").alias("sum_norm"),
            F.min("v_norm").cast("bigint").alias("min_norm"),
            F.max("v_norm").cast("bigint").alias("max_norm"),
        )
        .orderBy("source")
    )


_FH_BUCKETS = 64


@register(
    "ml_feature_hashing_counts",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ), hashed AS (
      SELECT token,
             CAST(('0x' || substring(md5(token), 1, 13)) AS BIGINT)
               % {_FH_BUCKETS} AS bucket
      FROM tok WHERE token <> ''
    )
    SELECT bucket, n_occurrences, n_distinct_tokens,
           CAST(n_distinct_tokens > 1 AS BIGINT) AS has_collision
    FROM (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_tokens
      FROM hashed
      GROUP BY bucket
    )
    ORDER BY bucket
    """,
    tags=("ml", "text", "features"),
)
def ml_feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. ICML'09) — tokens mapped to
    a fixed {_FH_BUCKETS}-dimensional feature space by hashing, the way
    every large-scale linear/GBDT text model bounds its feature
    dimensionality without a vocabulary pass. The hash is the repo's
    engine-portable md5-13-nibble 52-bit uniform (the same derivation
    the spatial fixtures use), reduced mod {_FH_BUCKETS}, so BOTH
    engines place every token in the same bucket and the per-bucket
    occurrence/collision census is exact integers.

    The collision column is the trade-off this transform makes —
    distinct tokens sharing a bucket — surfaced per bucket so a
    feature-quality monitor can alarm on hot buckets.

    Scale: tokenize → map-side hash → ONE bucket-keyed aggregate with a
    {_FH_BUCKETS}-row output; the feature space never grows with the
    corpus, which is the entire point of the trick."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("token")).where(
        F.col("token") != ""
    )
    hashed = tok.select(
        "token",
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 13), 16, 10).cast("long")
            % _FH_BUCKETS
        ).alias("bucket"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("token").cast("bigint").alias("n_distinct_tokens"),
        )
        .select(
            "bucket",
            "n_occurrences",
            "n_distinct_tokens",
            (F.col("n_distinct_tokens") > 1).cast("bigint").alias("has_collision"),
        )
        .orderBy("bucket")
    )


_LC_LEVELS = [1, 2, 4, 8]  # nested eighths: 1/8 ⊂ 2/8 ⊂ 4/8 ⊂ 8/8


@register(
    "ml_learning_curve_auc",
    oracle="""
    WITH lab AS (
      SELECT n_chars AS v, CAST(lang = 'fr' AS BIGINT) AS y,
             CAST(('0x' || substring(md5('lc:' || CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) % 8 AS octile
      FROM documents
    ), fracs(denom8) AS (VALUES (1), (2), (4), (8)),
    counts AS (
      SELECT f.denom8, l.v,
             CAST(SUM(l.y) AS BIGINT) AS cp,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM lab l JOIN fracs f ON l.octile < f.denom8
      GROUP BY f.denom8, l.v
    ), ranked AS (
      SELECT denom8, v, cp, tot,
             COALESCE(SUM(tot) OVER (PARTITION BY denom8 ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      FROM counts
    ), sums AS (
      SELECT denom8,
             CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(tot - cp) AS BIGINT) AS n_neg,
             CAST(SUM(cp * (2 * cumb + tot + 1)) AS BIGINT) AS r2_pos
      FROM ranked GROUP BY denom8
    )
    SELECT denom8, n_pos, n_neg,
           ROUND(CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM sums
    ORDER BY denom8
    """,
    tags=("ml", "eval", "documents"),
)
def ml_learning_curve_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-curve readout: exact ROC AUC of the length score at
    NESTED deterministic sample fractions (1/8 ⊂ 1/4 ⊂ 1/2 ⊂ all, via
    the md5-octile of doc_id — smaller samples are strict subsets of
    larger ones, the property a trainer needs for honest sample-size
    scaling studies). All four AUCs come from ONE corpus pass: each doc
    lands in its octile, the (fraction × value)-grain count table fans
    out ≤4× per VALUE-DOMAIN row (never per doc), and the tie-corrected
    rank sums run per fraction over the bounded value grain — the same
    integer Mann-Whitney machinery as eval_roc_auc_exact, partitioned
    by fraction so the windows stay parallel.

    Scale: the per-fraction sample is decided map-side by a hash
    comparison (no shuffle, no sort, no sampling state); the only
    data-sized work is the single value-keyed count. This is how a
    100 TB eval sweep prices 'would half the data do?'."""
    d = read_table(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").alias("v"),
        (F.col("lang") == "fr").cast("bigint").alias("y"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("lc:"), F.col("doc_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % 8
        ).alias("octile"),
    )
    fracs = spark.createDataFrame([(n,) for n in _LC_LEVELS], ["denom8"])
    counts = (
        lab.join(F.broadcast(fracs), F.col("octile") < F.col("denom8"))
        .groupBy("denom8", "v")
        .agg(
            F.sum("y").cast("bigint").alias("cp"),
            F.count("*").cast("bigint").alias("tot"),
        )
    )
    ranked = counts.withColumn(
        "cumb",
        F.coalesce(
            F.sum("tot").over(
                W.partitionBy("denom8")
                .orderBy("v")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    sums = ranked.groupBy("denom8").agg(
        F.sum("cp").cast("bigint").alias("n_pos"),
        F.sum(F.col("tot") - F.col("cp")).cast("bigint").alias("n_neg"),
        F.sum(F.col("cp") * (2 * F.col("cumb") + F.col("tot") + 1))
        .cast("bigint")
        .alias("r2_pos"),
    )
    return sums.select(
        "denom8",
        "n_pos",
        "n_neg",
        F.round(
            (F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    ).orderBy("denom8")


# --------------------------------------------------------------------------
# Isotonic calibration via the PAV minimax identity (round 12)
# --------------------------------------------------------------------------

_ISO_BINS = 11  # discount percent bins 0..10


@register(
    "ml_isotonic_calibration_pav",
    oracle=f"""
    WITH bins AS (
      SELECT CAST(ROUND(l_discount * 100) AS INT) AS b,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM lineitem GROUP BY 1
    ), pref AS (
      -- join-based prefix sums over the {_ISO_BINS}-row value domain
      -- (no single-partition window anywhere)
      SELECT a.b, SUM(c.w) AS cw, SUM(c.s) AS cs
      FROM bins a JOIN bins c ON c.b <= a.b GROUP BY a.b
    ), seg AS (
      -- segment means m(j..k) at the e6 fixpoint
      SELECT j.b AS j, k.b AS k,
             CAST(ROUND(1000000.0 * (k2.cs - COALESCE(j2.cs, 0))
                  / (k2.cw - COALESCE(j2.cw, 0))) AS BIGINT) AS m_e6
      FROM bins j JOIN bins k ON j.b <= k.b
      JOIN pref k2 ON k2.b = k.b
      LEFT JOIN pref j2 ON j2.b = j.b - 1
    ), fit AS (
      -- the PAV minimax identity: fitted_i = max_(j<=i) min_(k>=i) m(j,k)
      SELECT i.b AS b, MAX(inner_min.mn) AS fitted_e6
      FROM bins i
      JOIN (
        SELECT s.j, i2.b AS i, MIN(s.m_e6) AS mn
        FROM seg s JOIN bins i2 ON s.j <= i2.b AND i2.b <= s.k
        GROUP BY s.j, i2.b
      ) inner_min ON inner_min.i = i.b
      GROUP BY i.b
    )
    SELECT bins.b AS bin, bins.w AS n,
           CAST(ROUND(1000000.0 * bins.s / bins.w) AS BIGINT) AS rate_e6,
           f.fitted_e6,
           f.fitted_e6 <> CAST(ROUND(1000000.0 * bins.s / bins.w) AS BIGINT)
             AS pooled
    FROM bins JOIN fit f ON f.b = bins.b
    ORDER BY bin
    """,
    tags=("ml", "calibration", "lineitem", "exact"),
)
def ml_isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the per-
    discount-bin return rate via the POOL-ADJACENT-VIOLATORS solution,
    computed through the closed-form MINIMAX IDENTITY
    fitted_i = max_(j≤i) min_(k≥i) mean(y_j..y_k) (Ayer et al., Ann.
    Math. Stat. 1955 — the same fit PAV's sequential pooling produces,
    but as a pure relational expression over the bounded bin domain, so
    a DuckDB oracle can replay it; the sequential algorithm itself is
    order-dependent and un-oracle-able). Isotonic regression is THE
    standard model-calibration step (Zadrozny & Elkan, KDD 2002);
    the fixture's return-rate-vs-discount series is genuinely
    non-monotone, so pooling happens for real (the ``pooled`` flags).
    Segment means are e6-fixpointed BEFORE the max/min (identical
    integers both engines), and the fit stays monotone under rounding
    because the minimax form is monotone in i for ANY mean matrix.

    Scale: one map-side-combinable keyed aggregate reduces the fact
    table to the {_ISO_BINS}-bin value domain; prefix sums and the
    O(bins³) minimax run as tiny self-joins — NO single-partition
    window anywhere. Reference analog: none."""
    from blow_spark.materialize import spill_to_parquet

    li = read_table(spark, sf_dir, "lineitem")
    # the 11-row bin table feeds FIVE consumers (prefix sums, both seg
    # sides, the i-domain, the output join): spill once so the fact
    # scan + aggregate runs exactly once (15 -> 3 shuffles, pin sweep)
    bins = spill_to_parquet(
        li.groupBy(
            F.round(F.col("l_discount") * 100).cast("int").alias("b")
        ).agg(
            F.count("*").cast("bigint").alias("w"),
            F.sum((F.col("l_returnflag") == "R").cast("bigint"))
            .cast("bigint")
            .alias("s"),
        ),
        "blow_spark_iso_",
    )
    a, c = bins.alias("a"), bins.alias("c")
    pref = (
        a.join(c, F.col("c.b") <= F.col("a.b"))
        .groupBy(F.col("a.b").alias("b"))
        .agg(F.sum("c.w").alias("cw"), F.sum("c.s").alias("cs"))
    )
    j, k = bins.alias("j"), bins.alias("k")
    k2 = pref.alias("k2")
    j2 = pref.select(
        (F.col("b") + 1).alias("jb"), F.col("cw").alias("pcw"), F.col("cs").alias("pcs")
    ).alias("j2")
    seg = (
        j.join(k, F.col("j.b") <= F.col("k.b"))
        .join(k2, F.col("k2.b") == F.col("k.b"))
        .join(j2, F.col("j2.jb") == F.col("j.b"), "left")
        .select(
            F.col("j.b").alias("jj"),
            F.col("k.b").alias("kk"),
            F.round(
                1000000.0
                * (F.col("cs") - F.coalesce(F.col("pcs"), F.lit(0)))
                / (F.col("cw") - F.coalesce(F.col("pcw"), F.lit(0)))
            )
            .cast("bigint")
            .alias("m_e6"),
        )
    )
    idom = bins.select(F.col("b").alias("i"))
    inner_min = (
        seg.join(
            idom, (F.col("jj") <= F.col("i")) & (F.col("i") <= F.col("kk"))
        )
        .groupBy("jj", "i")
        .agg(F.min("m_e6").alias("mn"))
    )
    fit = inner_min.groupBy(F.col("i").alias("b")).agg(
        F.max("mn").alias("fitted_e6")
    )
    rate = F.round(1000000.0 * F.col("s") / F.col("w")).cast("bigint")
    return (
        bins.join(fit, "b")
        .select(
            F.col("b").alias("bin"),
            F.col("w").alias("n"),
            rate.alias("rate_e6"),
            "fitted_e6",
            (F.col("fitted_e6") != rate).alias("pooled"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Split-conformal prediction intervals (round 12)
# --------------------------------------------------------------------------

#: realized group-coverage floor for the 90% split-conformal interval —
#: calibrated at ALL THREE gate SFs before pinning (measured minima
#: 0.885 / 0.896 / 0.897 at sf0.001/0.01/0.1; the finite-sample
#: guarantee is >= 0.9 in expectation with ~n_cal^-1/2 fluctuation)
_CONF_COVERAGE_FLOOR_E6 = 860_000


@register(
    "ml_conformal_split_interval",
    oracle=f"""
    WITH rows_ AS (
      SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
                  || CAST(l_linenumber AS VARCHAR)), 1, 13)) AS BIGINT) % 4
               AS part
      FROM lineitem
    ), model AS (
      SELECT q, CAST(ROUND(1000000.0 * SUM(cents) / COUNT(*)) AS BIGINT)
               AS pred_e6
      FROM rows_ WHERE part <= 1 GROUP BY q
    ), calib AS (
      SELECT r.grp, ABS(r.cents * 1000000 - m.pred_e6) AS res
      FROM rows_ r JOIN model m USING (q) WHERE r.part = 2
    ), ranked AS (
      SELECT grp, res, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY res)
               AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n_cal
      FROM calib
    ), qq AS (
      SELECT grp, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
             CAST(MAX(CASE WHEN rn = (9 * (n_cal + 1) + 9) // 10
                           THEN res END) AS BIGINT) AS qhat_e6
      FROM ranked GROUP BY grp
    ), test AS (
      SELECT r.grp, CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(ROUND(1000000.0 * SUM(CASE WHEN
                  ABS(r.cents * 1000000 - m.pred_e6) <= k.qhat_e6
                  THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT) AS coverage_e6
      FROM rows_ r JOIN model m USING (q) JOIN qq k USING (grp)
      WHERE r.part = 3 GROUP BY r.grp
    )
    SELECT t.grp AS returnflag, k.n_cal, t.n_test, k.qhat_e6,
           t.coverage_e6,
           t.coverage_e6 >= {_CONF_COVERAGE_FLOOR_E6} AS coverage_ok
    FROM test t JOIN qq k USING (grp) ORDER BY returnflag
    """,
    tags=("ml", "conformal", "lineitem", "exact"),
)
def ml_conformal_split_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-conditional SPLIT-CONFORMAL prediction intervals (Papadopoulos
    et al., ECML 2002; Vovk's inductive conformal predictors; Lei et al.,
    JASA 2018): a deterministic hash splits lineitem 50/25/25 into
    train/calibration/test, the "model" is the per-quantity mean price
    fitted on TRAIN ONLY, q̂ is the ⌈0.9·(n+1)⌉-th smallest absolute
    calibration residual PER RETURNFLAG GROUP (Mondrian/group-conditional
    conformal — the fairness-grade variant), and the released interval
    pred ± q̂ is scored on the held-out TEST split. Everything is exact
    integer arithmetic (cent-e6 residuals, integer ceil for the quantile
    index — the floor-biased discipline); the realized coverage rides in
    the result rows with a floor bit calibrated at ALL THREE gate SFs
    (measured 0.885-0.917 around the 0.9 target — a real finite-sample
    fluctuation, not a vacuous bound). This is the distribution-free
    uncertainty-quantification step a production scoring pipeline runs
    INSIDE the data engine: no model internals needed, only residual
    order statistics.

    Scale: three hash-partition passes over one scan (the split is a
    map expression), a value-grain model table (50 quantities,
    broadcast), group-partitioned rank windows (3-way), and two keyed
    aggregates. Reference analog: none."""
    li = read_table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % 4
        ).alias("part"),
    )
    model = (
        rows_.filter(F.col("part") <= 1)
        .groupBy("q")
        .agg(
            F.round(1000000.0 * F.sum("cents") / F.count("*"))
            .cast("bigint")
            .alias("pred_e6")
        )
    )
    res = F.abs(F.col("cents") * 1000000 - F.col("pred_e6"))
    calib = (
        rows_.filter(F.col("part") == 2)
        .join(F.broadcast(model), "q")
        .select("grp", res.alias("res"))
    )
    wr = W.partitionBy("grp").orderBy("res")
    ranked = calib.select(
        "grp",
        "res",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(W.partitionBy("grp")).alias("n_cal"),
    )
    qq = ranked.groupBy("grp").agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.max(
            F.when(
                F.col("rn")
                == F.expr("(9 * (n_cal + 1) + 9) div 10"),
                F.col("res"),
            )
        )
        .cast("bigint")
        .alias("qhat_e6"),
    )
    test = (
        rows_.filter(F.col("part") == 3)
        .join(F.broadcast(model), "q")
        .join(F.broadcast(qq), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.round(
                1000000.0
                * F.sum((res <= F.col("qhat_e6")).cast("bigint"))
                / F.count("*")
            )
            .cast("bigint")
            .alias("coverage_e6"),
        )
    )
    return (
        test.join(qq, "grp")
        .select(
            F.col("grp").alias("returnflag"),
            "n_cal",
            "n_test",
            "qhat_e6",
            "coverage_e6",
            (F.col("coverage_e6") >= _CONF_COVERAGE_FLOOR_E6).alias(
                "coverage_ok"
            ),
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding (round 12)
# --------------------------------------------------------------------------

_TE_SMOOTH_M = 10  # prior pseudo-count for the smoothed encoding


@register(
    "ml_target_encoding_loo",
    oracle=f"""
    WITH rows_ AS (
      SELECT l.l_orderkey, l.l_linenumber, p.p_brand AS brand,
             CAST(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), grp AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM rows_ GROUP BY brand
    ), tot AS (
      SELECT CAST(ROUND(1000000.0 * SUM(sy) / SUM(n)) AS BIGINT) AS prior_e6
      FROM grp
    )
    SELECT r.l_orderkey, r.l_linenumber, r.brand, r.y, g.n AS n_brand,
           CASE WHEN g.n = 1 THEN NULL
                ELSE CAST(ROUND(1000000.0 * (g.sy - r.y) / (g.n - 1))
                          AS BIGINT)
           END AS enc_loo_e6,
           CAST(ROUND((1000000.0 * (g.sy - r.y) + {_TE_SMOOTH_M} * t.prior_e6)
                / (g.n - 1 + {_TE_SMOOTH_M})) AS BIGINT) AS enc_smooth_e6
    FROM rows_ r JOIN grp g USING (brand) CROSS JOIN tot t
    """,
    tags=("ml", "feature-engineering", "lineitem", "exact"),
)
def ml_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding of p_brand against the return flag
    — the high-cardinality-categorical feature transform gradient-
    boosting pipelines run inside the data engine (Micci-Barreca,
    SIGKDD Explorations 2001 is the smoothing form; the LOO variant is
    the leakage-safe one: each row's own label is EXCLUDED from its
    encoding, so the feature carries no per-row target leakage). Two
    encodings per row: raw LOO (Σy − y)/(n − 1), NULL for singleton
    groups where it is undefined, and the m-estimate smoothed form
    (Σy − y + m·prior)/(n − 1 + m) with the global rate as prior and
    m = {_TE_SMOOTH_M}. All arithmetic is exact integers until one
    final e6-rounded division on identical operands.

    Scale: one broadcast dim join + one keyed aggregate, then the
    group table broadcasts BACK onto the rows (map-side) — the fact
    table shuffles zero times for the encoding itself; output is
    row-grain by design (it IS a feature column). Reference analog:
    none."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rows_ = li.join(F.broadcast(p), p.p_partkey == li.l_partkey).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    grp = rows_.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    tot = grp.agg(
        F.round(1000000.0 * F.sum("sy") / F.sum("n"))
        .cast("bigint")
        .alias("prior_e6")
    )
    loo_num = F.col("sy") - F.col("y")
    return (
        rows_.join(F.broadcast(grp), "brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_orderkey",
            "l_linenumber",
            "brand",
            "y",
            F.col("n").alias("n_brand"),
            F.when(F.col("n") == 1, F.lit(None).cast("bigint"))
            .otherwise(
                F.round(1000000.0 * loo_num / (F.col("n") - 1)).cast("bigint")
            )
            .alias("enc_loo_e6"),
            F.round(
                (1000000.0 * loo_num + _TE_SMOOTH_M * F.col("prior_e6"))
                / (F.col("n") - 1 + _TE_SMOOTH_M)
            )
            .cast("bigint")
            .alias("enc_smooth_e6"),
        )
    )


_RANSAC_TAU_CENTS = 50_000  # ±$500 vertical band
_RANSAC_POOL = 48  # hash-ordered sample rows -> 24 candidate pairs


def _fx_div_duck(num: str, den: str, scale: int) -> str:
    """Exact half-away-from-zero fixed-point division
    round(num·scale/den) in pure HUGEINT, for positive ``den``
    (round-14 ADVICE fix: the previous ROUND(x::DOUBLE, 6/2) readouts
    sat in the same fractional-decimal tie class the Holt e4 fix
    closed — Spark rounds the shortest-decimal repr HALF_UP, DuckDB
    rounds the exact binary double, and they disagree exactly on
    ties; integer division can't). TWO-STAGE — integer quotient plus
    half-away remainder scaling — so no operand ever exceeds
    max(|num|, 2·scale·den): the naive (2·num·scale + den)//(2·den)
    form would cross 2^127 at sf100 for the regression covariances
    (num = n·Σxy − Σx·Σy ≈ n²·cov ~ 1.3e31 there, ×2e6 ≈ 2.6e37 with
    only ~6× headroom; two-stage keeps ≥ 1e4×)."""
    return (
        f"CAST(CASE WHEN ({num}) >= 0 THEN "
        f"(({num}) // ({den})) * {scale} "
        f"+ (2 * (({num}) % ({den})) * {scale} + ({den})) // (2 * ({den})) "
        f"ELSE -(((-({num})) // ({den})) * {scale} "
        f"+ (2 * ((-({num})) % ({den})) * {scale} + ({den})) "
        f"// (2 * ({den}))) END AS BIGINT)"
    )


def _fx_div_spark(num: str, den: str, scale: int):
    """Spark DECIMAL(38,0) twin of _fx_div_duck — `div`/`%` truncate
    toward zero in both engines, and the sign-split keeps every
    operand non-negative so floor-vs-truncate can never diverge."""
    return F.expr(
        f"CAST(CASE WHEN ({num}) >= 0 THEN "
        f"(({num}) div ({den})) * {scale} "
        f"+ (2 * (({num}) % ({den})) * {scale} + ({den})) div (2 * ({den})) "
        f"ELSE -(((-({num})) div ({den})) * {scale} "
        f"+ (2 * ((-({num})) % ({den})) * {scale} + ({den})) "
        f"div (2 * ({den}))) END AS BIGINT)"
    )


@register(
    "ml_ransac_line_fit",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
             md5(CONCAT(CAST(l_orderkey AS VARCHAR), '-',
                        CAST(l_linenumber AS VARCHAR))) AS h
      FROM lineitem
    ), sel AS (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY h, x, y) AS rn
      FROM pts ORDER BY h, x, y LIMIT {_RANSAC_POOL}
    ), paired AS (
      SELECT (rn + 1) // 2 AS pair_id,
             MAX(CASE WHEN rn % 2 = 1 THEN x END) AS x1,
             MAX(CASE WHEN rn % 2 = 1 THEN y END) AS y1,
             MAX(CASE WHEN rn % 2 = 0 THEN x END) AS x2,
             MAX(CASE WHEN rn % 2 = 0 THEN y END) AS y2
      FROM sel GROUP BY 1
    ), lines AS (
      SELECT pair_id,
             CASE WHEN x2 >= x1 THEN x1 ELSE x2 END AS px,
             CASE WHEN x2 >= x1 THEN y1 ELSE y2 END AS py,
             ABS(x2 - x1) AS dx,
             CASE WHEN x2 >= x1 THEN y2 - y1 ELSE y1 - y2 END AS dy
      FROM paired WHERE x1 <> x2
    ), ncand AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM lines
    ), scored AS (
      SELECT l.pair_id, l.px, l.py, l.dx, l.dy,
             CAST(COUNT(*) AS BIGINT) AS n_pts,
             CAST(SUM(CASE WHEN ABS(l.dy * (p.x - l.px)
                                    - l.dx * (p.y - l.py))
                                <= {_RANSAC_TAU_CENTS} * l.dx
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
      FROM lines l CROSS JOIN pts p
      GROUP BY 1, 2, 3, 4, 5
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_inliers DESC, pair_id) AS rk
      FROM scored
    ), winner AS (
      SELECT * FROM ranked WHERE rk = 1
    ), refit AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(p.x) AS HUGEINT) AS sx,
             CAST(SUM(p.y) AS HUGEINT) AS sy,
             CAST(SUM(p.x * p.y) AS HUGEINT) AS sxy,
             CAST(SUM(p.x * p.x) AS HUGEINT) AS sxx
      FROM pts p CROSS JOIN winner w
      WHERE ABS(w.dy * (p.x - w.px) - w.dx * (p.y - w.py))
            <= {_RANSAC_TAU_CENTS} * w.dx
    ), refit2 AS (
      SELECT n, sx, sy,
             {_fx_div_duck('n * sxy - sx * sy',
                           'n * sxx - sx * sx', 10**6)}
               AS refit_slope_e6
      FROM refit
    ), refitout AS (
      SELECT refit_slope_e6,
             {_fx_div_duck(
                 '1000000 * sy - CAST(refit_slope_e6 AS HUGEINT) * sx',
                 '1000000 * n', 1)}
               AS refit_intercept_e2
      FROM refit2
    )
    SELECT r.rk AS rank, r.pair_id, r.px AS x_anchor,
           r.py AS y_anchor_cents, r.dx, r.dy,
           CAST(ROUND(1000000.0 * r.dy / r.dx) AS BIGINT) AS cand_slope_e6,
           r.n_inliers, r.n_pts,
           (1000000 * r.n_inliers) // r.n_pts AS inlier_frac_e6,
           nc.n_candidates,
           CASE WHEN r.rk = 1 THEN f.refit_slope_e6
           END AS refit_slope_e6,
           CASE WHEN r.rk = 1 THEN f.refit_intercept_e2
           END AS refit_intercept_e2
    FROM ranked r CROSS JOIN ncand nc CROSS JOIN refitout f
    WHERE r.rk <= 5
    ORDER BY r.rk
    """,
    tags=("ml", "robust", "lineitem"),
)
def ml_ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC consensus line fit (Fischler & Bolles, CACM 1981) of
    extended price (cents) on quantity over lineitem — robust
    regression by hypothesize-from-minimal-samples, score-by-inliers,
    refit-on-consensus. The candidate pool is DETERMINISTIC: the 48
    rows with the smallest md5(orderkey-linenumber) digests form 24
    two-point candidate lines, ordered (digest, x, y) — the synthetic
    lineitem REUSES (orderkey, linenumber) pairs, so the digest alone
    is not a key and needs the point tiebreak (hash order replaces
    the RNG, so every
    rerun and every retry scores the identical hypothesis set — the
    only way RANSAC can live under an exactness oracle). Emits the
    top-5 candidates by inlier count with the winner's OLS refit over
    its own inliers.

    Engine-exactness: the inlier test |dy·(x−x₁) − dx·(y−y₁)| ≤ τ·dx
    is pure BIGINT (lines are canonicalized to dx > 0, so both engines
    avoid floor-vs-truncate sign traps entirely); refit sums are
    DECIMAL(38,0)/HUGEINT (the n·Σxy cross-product crosses int64 near
    6e8 rows — round-13 overflow-audit headroom discipline), and the
    refit readouts are EXACT half-away integer fixed-point divisions
    over those integer moments (_fx_div_duck/_fx_div_spark, round-14
    ADVICE fix): refit_slope_e6 = round(10⁶·(nΣxy−ΣxΣy)/(nΣxx−Σx²))
    and refit_intercept_e2 = round((10⁶·Σy − slope_e6·Σx)/(10⁶·n)) in
    cents — NO doubles anywhere, so the Spark-BigDecimal-HALF_UP vs
    DuckDB-binary-round fractional-tie class (the sf1 Holt find)
    cannot exist. The intercept is defined over the already-rounded
    slope_e6 so both engines evaluate the identical integer formula.

    Scale: the pool selection is a TakeOrdered head (per-partition
    heaps, k=48, no fact shuffle); the 24-line hypothesis table
    broadcasts to ONE scoring pass over the points (map-side partial
    aggregation into 24 groups), and the winner broadcasts back for
    ONE refit pass — two linear scans total, zero fact-table
    shuffles, the textbook 100 TB RANSAC shape. The 24-row hypothesis
    and ranked tables are ``checkpoint_small`` cuts (round-14: were
    parquet spills — a write job + commit + scan each, pure overhead
    at constant size; guide §5)."""
    from blow_spark.materialize import checkpoint_small

    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.md5(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
    )
    sel = pts.orderBy("h", "x", "y").limit(_RANSAC_POOL)
    rn = F.row_number().over(W.orderBy("h", "x", "y"))
    paired = (
        sel.select("x", "y", rn.alias("rn"))
        .groupBy(((F.col("rn") + 1) / 2).cast("bigint").alias("pair_id"))
        .agg(
            F.max(F.when(F.col("rn") % 2 == 1, F.col("x"))).alias("x1"),
            F.max(F.when(F.col("rn") % 2 == 1, F.col("y"))).alias("y1"),
            F.max(F.when(F.col("rn") % 2 == 0, F.col("x"))).alias("x2"),
            F.max(F.when(F.col("rn") % 2 == 0, F.col("y"))).alias("y2"),
        )
    )
    swap = F.col("x2") >= F.col("x1")
    lines = checkpoint_small(
        paired.where(F.col("x1") != F.col("x2")).select(
            "pair_id",
            F.when(swap, F.col("x1")).otherwise(F.col("x2")).alias("px"),
            F.when(swap, F.col("y1")).otherwise(F.col("y2")).alias("py"),
            F.abs(F.col("x2") - F.col("x1")).alias("dx"),
            F.when(swap, F.col("y2") - F.col("y1"))
            .otherwise(F.col("y1") - F.col("y2"))
            .alias("dy"),
        )
    )
    resid = F.abs(
        F.col("dy") * (F.col("x") - F.col("px"))
        - F.col("dx") * (F.col("y") - F.col("py"))
    )
    scored = (
        pts.crossJoin(F.broadcast(lines))
        .groupBy("pair_id", "px", "py", "dx", "dy")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum(
                (resid <= _RANSAC_TAU_CENTS * F.col("dx")).cast("long")
            ).alias("n_inliers"),
        )
    )
    ranked = checkpoint_small(
        scored.select(
            F.row_number()
            .over(W.orderBy(F.col("n_inliers").desc(), "pair_id"))
            .alias("rank"),
            "*",
        )
    )
    winner = ranked.where(F.col("rank") == 1).select("px", "py", "dx", "dy")
    d38 = "decimal(38,0)"
    refit = (
        pts.crossJoin(F.broadcast(winner))
        .where(resid <= _RANSAC_TAU_CENTS * F.col("dx"))
        .agg(
            F.count("*").cast(d38).alias("n"),
            F.sum("x").cast(d38).alias("sx"),
            F.sum("y").cast(d38).alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        )
    )
    refit2 = refit.withColumn(
        "refit_slope_e6",
        _fx_div_spark("n * sxy - sx * sy", "n * sxx - sx * sx", 10**6),
    )
    refit_out = refit2.select(
        "refit_slope_e6",
        _fx_div_spark(
            "1000000 * sy - cast(refit_slope_e6 as decimal(38,0)) * sx",
            "1000000 * n",
            1,
        ).alias("refit_intercept_e2"),
    )
    ncand = lines.agg(F.count("*").cast("bigint").alias("n_candidates"))
    return (
        ranked.where(F.col("rank") <= 5)
        .crossJoin(F.broadcast(ncand))
        .crossJoin(F.broadcast(refit_out))
        .select(
            "rank",
            "pair_id",
            F.col("px").alias("x_anchor"),
            F.col("py").alias("y_anchor_cents"),
            "dx",
            "dy",
            F.round(1000000.0 * F.col("dy") / F.col("dx"))
            .cast("bigint")
            .alias("cand_slope_e6"),
            "n_inliers",
            "n_pts",
            F.expr("(1000000L * n_inliers) div n_pts").alias(
                "inlier_frac_e6"
            ),
            "n_candidates",
            F.when(F.col("rank") == 1, F.col("refit_slope_e6")).alias(
                "refit_slope_e6"
            ),
            F.when(F.col("rank") == 1, F.col("refit_intercept_e2")).alias(
                "refit_intercept_e2"
            ),
        )
        .orderBy("rank")
    )


@register(
    "ml_huber_irls_step",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), mom AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pts
    ), ols AS (
      SELECT n, sx, sy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b0,
             (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a0,
             SQRT(GREATEST(0.0,
               (CAST(syy AS DOUBLE)
                - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                  / CAST(n AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                  * (CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n AS DOUBLE)))
               / CAST(n - 2 AS DOUBLE))) AS sigma_hat,
             {_fx_div_duck('n * sxy - sx * sy',
                           'n * sxx - sx * sx', 10**6)}
               AS ols_slope_e6
      FROM mom
    ), kparam AS (
      SELECT n, a0, b0, sigma_hat, ols_slope_e6,
             GREATEST(CAST(ROUND(1.345 * sigma_hat) AS BIGINT), 1)
               AS k_cents,
             {_fx_div_duck(
                 '1000000 * sy - CAST(ols_slope_e6 AS HUGEINT) * sx',
                 '1000000 * n', 1)}
               AS ols_intercept_e2,
             CAST(FLOOR(sigma_hat * 100.0) AS BIGINT) AS sigma_hat_e2
      FROM ols
    ), wtd AS (
      SELECT p.x, p.y, k.a0, k.b0, k.k_cents, k.n,
             k.ols_slope_e6, k.ols_intercept_e2, k.sigma_hat_e2,
             CASE WHEN ABS(r_e0) <= k.k_cents THEN CAST(1000000 AS BIGINT)
                  ELSE (k.k_cents * 1000000) // ABS(r_e0) END AS w_e6
      FROM pts p CROSS JOIN kparam k,
      LATERAL (SELECT CAST(ROUND(p.y - k.a0 - k.b0 * p.x) AS BIGINT)
                 AS r_e0) _
    ), wmom AS (
      SELECT MIN(n) AS n, MIN(k_cents) AS k_cents,
             MIN(ols_slope_e6) AS ols_slope_e6,
             MIN(ols_intercept_e2) AS ols_intercept_e2,
             MIN(sigma_hat_e2) AS sigma_hat_e2,
             CAST(SUM(w_e6) AS HUGEINT) AS sw,
             CAST(SUM(CAST(w_e6 AS HUGEINT) * x) AS HUGEINT) AS swx,
             CAST(SUM(CAST(w_e6 AS HUGEINT) * y) AS HUGEINT) AS swy,
             CAST(SUM(CAST(w_e6 AS HUGEINT) * x * y) AS HUGEINT) AS swxy,
             CAST(SUM(CAST(w_e6 AS HUGEINT) * x * x) AS HUGEINT) AS swxx,
             CAST(SUM(CASE WHEN w_e6 < 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_downweighted
      FROM wtd
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ols_slope_e6, ols_intercept_e2, sigma_hat_e2,
           k_cents, n_downweighted,
           CAST(sw AS BIGINT) AS sum_w_e6,
           CAST(FLOOR(1000000.0 *
                ((CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
                  - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
                 / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                    - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))))
                AS BIGINT) AS huber_slope_e6,
           CAST(FLOOR((CAST(swy AS DOUBLE)
                  - ((CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
                      - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
                     / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                        - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)))
                    * CAST(swx AS DOUBLE))
                 / CAST(sw AS DOUBLE)) AS BIGINT)
             AS huber_intercept_e2
    FROM wmom
    """,
    tags=("ml", "robust", "lineitem"),
)
def ml_huber_irls_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One IRLS step of Huber M-estimation (Huber, Ann. Math. Stat.
    1964) for the price-on-quantity regression: OLS warm start →
    residuals → Huber weights w = min(1, k/|r|) at k = 1.345·σ̂ (the
    95%-efficiency tuning constant; σ̂ is the OLS residual RMS — the
    scale choice is part of the operator's definition) → weighted
    re-fit. The downweighting census (n_downweighted, Σw) is emitted
    so the robustness action is visible in the result, not just the
    coefficients.

    Engine-exactness (round-14 ADVICE fix — no fractional ROUND on
    doubles anywhere): all moment sums are DECIMAL(38,0)/HUGEINT over
    integer cents; the REPORTED OLS coefficients are exact half-away
    integer fixed-point divisions over those moments
    (ols_slope_e6 = round(10⁶·(nΣxy−ΣxΣy)/(nΣxx−Σx²)),
    ols_intercept_e2 over the already-rounded slope — _fx_div_duck/
    _fx_div_spark); per-row residuals use the internal IEEE (a0, b0)
    and round to integer cents INDEPENDENTLY (0-decimal round — the
    tie-safe kind, since x.5 is exactly representable); the weights
    are positive-integer floor divisions at e6, so the weighted
    moments are again exact integers. The WEIGHTED readouts
    (huber_slope_e6/huber_intercept_e2) are tie-free FLOOR over the
    shared IEEE ratio of per-moment double casts: the exact rational
    there has value Σw²·cov ≈ 1.3e43 at sf100 — past 2^127, so NO
    128-bit integer path exists (the old code's sw·swxy DECIMAL
    product silently nulls/errors near sf40; per-moment casts are
    exact-to-double and IEEE ops are correctly rounded in both
    engines, so the doubles are bit-equal and FLOOR — unlike
    fractional ROUND — has no decimal-tie class). sigma_hat_e2 is the
    same FLOOR treatment (σ̂ is a sqrt, hence irrational — IEEE sqrt
    is correctly rounded, so still bit-equal).

    Scale: two linear scans (moment pass + weighted pass with the
    6-number parameter row broadcast), zero fact-table shuffles —
    the same 100 TB shape as ml_ransac_line_fit's refit."""
    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    d38 = "decimal(38,0)"
    mom = pts.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        # y² ≤ ~1.2e14 per row (price-domain bound) — BIGINT multiply,
        # DECIMAL only for the sum (round-14, same rationale as the
        # weighted moments below)
        F.sum((F.col("y") * F.col("y")).cast("decimal(18,0)"))
        .cast(d38)
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    b0 = num / den
    a0 = (F.col("sy").cast("double") - b0 * F.col("sx").cast("double")) / nd
    sigma = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy").cast("double")
                / nd
                - b0
                * (
                    F.col("sxy").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sy").cast("double")
                    / nd
                )
            )
            / (F.col("n") - 2).cast("double"),
        )
    )
    mom2 = mom.withColumn(
        "ols_slope_e6",
        _fx_div_spark("n * sxy - sx * sy", "n * sxx - sx * sx", 10**6),
    )
    kparam = mom2.select(
        F.col("n").cast("bigint").alias("n"),
        a0.alias("a0"),
        b0.alias("b0"),
        sigma.alias("sigma_hat"),
        F.greatest(
            F.round(1.345 * sigma).cast("bigint"), F.lit(1).cast("bigint")
        ).alias("k_cents"),
        F.col("ols_slope_e6"),
        _fx_div_spark(
            "1000000 * sy - cast(ols_slope_e6 as decimal(38,0)) * sx",
            "1000000 * n",
            1,
        ).alias("ols_intercept_e2"),
        F.floor(sigma * 100.0).cast("bigint").alias("sigma_hat_e2"),
    )
    r_e0 = F.round(
        F.col("y") - F.col("a0") - F.col("b0") * F.col("x")
    ).cast("bigint")
    wtd = pts.crossJoin(F.broadcast(kparam)).withColumn(
        "w_e6",
        F.when(
            F.abs(r_e0) <= F.col("k_cents"), F.lit(1000000).cast("bigint")
        ).otherwise(
            F.expr(
                "(k_cents * 1000000L) div abs(cast(round(y - a0 - b0 * x)"
                " as bigint))"
            )
        ),
    )
    wmom = wtd.agg(
        F.min("n").alias("n"),
        F.min("k_cents").alias("k_cents"),
        F.min("ols_slope_e6").alias("ols_slope_e6"),
        F.min("ols_intercept_e2").alias("ols_intercept_e2"),
        F.min("sigma_hat_e2").alias("sigma_hat_e2"),
        # round-14 optimization (guide §2.3 "narrower types"): the
        # per-ROW products are DOMAIN-bounded (w ≤ 10⁶, x = quantity
        # ≤ 50, y = cents ≤ ~1.1e7 ⇒ w·x·y ≤ 5.5e14 < 2⁶³ at ANY
        # scale factor — row magnitudes don't grow with sf, only the
        # sums do), so they multiply in codegen'd BIGINT and convert
        # to DECIMAL only for the accumulation; the old form ran two
        # boxed DECIMAL(38,0) multiplies per row per moment, the hot
        # loop of the weighted pass. Sums land in DECIMAL(28,0)
        # (inputs cast decimal(18,0)) — exact to ~1e28, i.e. sf ~10⁴;
        # values identical, final cast to DECIMAL(38,0) unchanged.
        F.sum("w_e6").cast(d38).alias("sw"),
        F.sum((F.col("w_e6") * F.col("x")).cast("decimal(18,0)"))
        .cast(d38)
        .alias("swx"),
        F.sum((F.col("w_e6") * F.col("y")).cast("decimal(18,0)"))
        .cast(d38)
        .alias("swy"),
        F.sum((F.col("w_e6") * F.col("x") * F.col("y")).cast("decimal(18,0)"))
        .cast(d38)
        .alias("swxy"),
        F.sum((F.col("w_e6") * F.col("x") * F.col("x")).cast("decimal(18,0)"))
        .cast(d38)
        .alias("swxx"),
        F.sum((F.col("w_e6") < 1000000).cast("long"))
        .cast("bigint")
        .alias("n_downweighted"),
    )
    swd = F.col("sw").cast("double")
    swxd = F.col("swx").cast("double")
    swyd = F.col("swy").cast("double")
    hslope = (swd * F.col("swxy").cast("double") - swxd * swyd) / (
        swd * F.col("swxx").cast("double") - swxd * swxd
    )
    return wmom.select(
        F.col("n").cast("bigint").alias("n_points"),
        "ols_slope_e6",
        "ols_intercept_e2",
        "sigma_hat_e2",
        "k_cents",
        "n_downweighted",
        F.col("sw").cast("bigint").alias("sum_w_e6"),
        F.floor(F.lit(1000000.0) * hslope)
        .cast("bigint")
        .alias("huber_slope_e6"),
        F.floor((swyd - hslope * swxd) / swd)
        .cast("bigint")
        .alias("huber_intercept_e2"),
    )
