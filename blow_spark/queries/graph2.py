"""Second graph battery: HITS hubs/authorities on the customer→part
purchase bipartite graph.

Reference parity note: the reference engine (wizgrao/blow) has no graph
surface (maps/maps.go:8-14); extension operators from the task brief's
analytics mandate. Companion to the iterative family in
queries/pipeline_ops.py (pagerank, label propagation, k-core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blow_spark.queries import register
from blow_spark.sources import read_table


@register(
    "graph_hits_hubs_authorities",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), auth AS (
      -- one HITS half-step from hub0 = 1: authority = in-degree
      SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY p
    ), hub AS (
      -- hub = sum of neighbor authorities (exact integers)
      SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h
      FROM edges e JOIN auth a USING (p) GROUP BY e.c
    ), an AS (
      SELECT CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS nrm FROM auth
    ), hn AS (
      SELECT CAST(SUM(CAST(h AS HUGEINT) * h) AS DOUBLE) AS nrm FROM hub
    ), top_a AS (
      SELECT 'authority' AS role, a.p AS node_id,
             ROUND(a.a / SQRT(an.nrm), 6) AS score
      FROM auth a CROSS JOIN an
      ORDER BY a.a DESC, a.p LIMIT 10
    ), top_h AS (
      SELECT 'hub' AS role, h.c AS node_id,
             ROUND(h.h / SQRT(hn.nrm), 6) AS score
      FROM hub h CROSS JOIN hn
      ORDER BY h.h DESC, h.c LIMIT 10
    )
    SELECT * FROM top_a
    UNION ALL
    SELECT * FROM top_h
    ORDER BY role, score DESC, node_id
    """,
    tags=("graph", "orders", "lineitem"),
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS iteration (Kleinberg, JACM 1999) on the customer→part
    purchase bipartite graph from hub⁰ ≡ 1: authority(part) = buyer
    count, hub(customer) = Σ authority over bought parts, each side
    L2-normalized — "which parts anchor the catalog, which customers
    sweep it?". Scores stay exact BIGINTs until the final normalize,
    so top-k ORDER is decided on integers (ties by node id) and the
    normalized doubles are identical in both engines.

    Scale: distinct-edge projection (one shuffle), degree aggregate,
    one edge-keyed join+aggregate for hubs — the same bounded-fanout
    shapes as graph_pagerank_bipartite. Edges, auth, and hub scores
    each SPILL once (materialize.spill_to_parquet) because the norm
    branch and the top-k branch both read them — without the spill the
    union's two branches re-derive the whole chain (measured 16 static
    exchanges → 6). The two L2 norms are 1-row broadcast cross joins,
    and each top-10 is TakeOrderedAndProject (per-partition heads, no
    global sort materialized). Further iterations repeat the same pair
    of joins; one step is registered because each subsequent step is
    plan-identical with hub/auth swapped."""
    from blow_spark.materialize import spill_to_parquet

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    edges = spill_to_parquet(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct(),
        "blow_spark_hits_edges_",
    )
    auth = spill_to_parquet(
        edges.groupBy("p").agg(F.count("*").cast("bigint").alias("a")),
        "blow_spark_hits_auth_",
    )
    hub = spill_to_parquet(
        edges.join(auth, "p")
        .groupBy("c")
        .agg(F.sum("a").cast("bigint").alias("h")),
        "blow_spark_hits_hub_",
    )
    an = auth.agg(
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("a"))
        .cast("double")
        .alias("nrm")
    )
    hn = hub.agg(
        F.sum(F.col("h").cast("decimal(38,0)") * F.col("h"))
        .cast("double")
        .alias("nrm")
    )
    top_a = (
        auth.crossJoin(F.broadcast(an))
        .orderBy(F.col("a").desc(), F.col("p").asc())
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.round(F.col("a") / F.sqrt(F.col("nrm")), 6).alias("score"),
        )
    )
    top_h = (
        hub.crossJoin(F.broadcast(hn))
        .orderBy(F.col("h").desc(), F.col("c").asc())
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.round(F.col("h") / F.sqrt(F.col("nrm")), 6).alias("score"),
        )
    )
    return top_a.unionAll(top_h).orderBy(
        "role", F.col("score").desc(), "node_id"
    )


_KTRUSS_K = 4       # edges must sit in ≥ k-2 = 2 triangles
_KTRUSS_ROUNDS = 6  # pruning rounds (fixture cascades 5 rounds, then proves
                    # the fixpoint: sf0.001 removes 276/51/24/5/2/0)
_KTRUSS_MIN_CO = 2  # co-order support threshold for the part graph


def _ktruss_oracle_sql() -> str:
    support = """sup{r} AS MATERIALIZED (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS sup FROM (
        SELECT t.a AS u, t.b AS v FROM tri{r} t
        UNION ALL
        SELECT t.b AS u, t.c AS v FROM tri{r} t
        UNION ALL
        SELECT t.a AS u, t.c AS v FROM tri{r} t
      ) s GROUP BY u, v
    )"""
    tri = """tri{r} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e{r} e1
      JOIN e{r} e2 ON e2.u = e1.v
      JOIN e{r} e3 ON e3.u = e1.u AND e3.v = e2.v
    )"""
    ctes = [
        """b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    )""",
        f"""e0 AS MATERIALIZED (
      SELECT a.p AS u, b2.p AS v
      FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
      GROUP BY a.p, b2.p HAVING COUNT(*) >= {_KTRUSS_MIN_CO}
    )""",
    ]
    thresh = _KTRUSS_K - 2
    for r in range(_KTRUSS_ROUNDS):
        ctes.append(tri.format(r=r))
        ctes.append(support.format(r=r))
        ctes.append(
            f"""e{r + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r} e
      JOIN sup{r} s ON s.u = e.u AND s.v = e.v
      WHERE s.sup >= {thresh}
    )"""
        )
    rows = ",\n      ".join(
        f"({r + 1})" for r in range(_KTRUSS_ROUNDS)
    )
    selects = []
    for r in range(_KTRUSS_ROUNDS):
        selects.append(
            f"""SELECT CAST({r + 1} AS BIGINT) AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r + 1}) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r})
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r + 1}) AS n_removed,
             (SELECT COUNT(*) FROM e{r})
               = (SELECT COUNT(*) FROM e{r + 1}) AS converged"""
        )
    union = "\n      UNION ALL\n      ".join(selects)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT * FROM (
      {union}
    ) ORDER BY round"""
    )


@register(
    "graph_ktruss_prune",
    oracle=_ktruss_oracle_sql(),
    tags=("graph", "iterative", "lineitem"),
)
def graph_ktruss_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (Cohen 2008 — the triangle-dense-core
    mining standard, the edge analog of k-core): iteratively delete
    every edge supporting fewer than k−2 triangles until fixpoint, on
    the part CO-ORDER graph (parts are adjacent when they share ≥2
    order baskets — sparse and Zipfian, unlike the near-complete
    supplier co-part graph, so the pruning cascade is real: the
    sf0.001 fixture removes 276/51/24/5/2/0 edges over the six
    rounds). The FULL loop is registered (the pagerank/k-core/EM
    standard), and the last round's n_removed = 0 realizes convergence
    in the result so the oracle hash proves the fixpoint, not just six
    arbitrary steps.

    Engine-exact: triangle enumeration on canonical u<v edges is pure
    equi-join arithmetic; supports and edge counts are BIGINT counts.

    Scale: edge generation is the basket-bounded within-order pair
    join (C(basket,2) fan-out, the basket_part_pairs bound) with a ≥2
    co-support cut; each round is one wedge-join triangle count
    (broadcast of the co-occurrence-bounded edge list, same plan as
    graph_triangle_count) plus an edge-keyed support aggregate; edge
    sets SPILL per round so round r+1 rereads a small parquet instead
    of recomputing the chain (the pagerank lineage-cut lesson,
    SCALE.md:437-480). At 100 TB the degree-ordered orientation bounds
    wedge fan-out by arboricity — same note as graph_triangle_count."""
    from blow_spark.materialize import spill_to_parquet

    li = read_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    e = spill_to_parquet(
        b.alias("a")
        .join(
            b.alias("b2"),
            (F.col("a.o") == F.col("b2.o")) & (F.col("a.p") < F.col("b2.p")),
        )
        .groupBy(F.col("a.p").alias("u"), F.col("b2.p").alias("v"))
        .agg(F.count("*").alias("n_co"))
        .where(F.col("n_co") >= _KTRUSS_MIN_CO)
        .select("u", "v"),
        "blow_spark_ktruss_e0_",
    )
    thresh = _KTRUSS_K - 2
    rows = []
    for r in range(_KTRUSS_ROUNDS):
        tri = (
            e.alias("e1")
            .join(F.broadcast(e.alias("e2")), F.col("e2.u") == F.col("e1.v"))
            .join(
                F.broadcast(e.alias("e3")),
                (F.col("e3.u") == F.col("e1.u"))
                & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count("*").cast("bigint").alias("sup"))
        )
        e_next = spill_to_parquet(
            e.join(sup, ["u", "v"]).where(F.col("sup") >= thresh).select("u", "v"),
            f"blow_spark_ktruss_e{r + 1}_",
        )
        prev_n = e.agg(F.count("*").cast("bigint").alias("prev_n"))
        next_n = e_next.agg(F.count("*").cast("bigint").alias("next_n"))
        rows.append(
            prev_n.crossJoin(next_n).select(
                F.lit(r + 1).cast("bigint").alias("round"),
                F.col("next_n").alias("n_edges"),
                (F.col("prev_n") - F.col("next_n")).alias("n_removed"),
                (F.col("prev_n") == F.col("next_n")).alias("converged"),
            )
        )
        e = e_next
    out = rows[0]
    for rdf in rows[1:]:
        out = out.unionAll(rdf)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# Round 11: closeness centrality (bounded multi-source BFS) + modularity
# --------------------------------------------------------------------------


@register(
    "graph_closeness_centrality_bfs",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), bi AS (
      SELECT c AS src, 'c' AS sside, p AS dst, 'p' AS dside FROM edges
      UNION ALL
      SELECT p, 'p', c, 'c' FROM edges
    ), seeds AS (
      SELECT c FROM (SELECT DISTINCT c FROM edges ORDER BY c LIMIT 10)
    ), bfs AS (
      SELECT c AS seed, c AS node, 'c' AS side, 0 AS dist FROM seeds
      UNION
      SELECT b.seed, e.dst, e.dside, b.dist + 1
      FROM bfs b JOIN bi e ON e.src = b.node AND e.sside = b.side
      WHERE b.dist < 4
    ), best AS (
      SELECT seed, node, side, MIN(dist) AS d
      FROM bfs GROUP BY seed, node, side
    )
    SELECT seed,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
           CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
           CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
           CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_d4,
           CAST(SUM(CASE WHEN d > 0 THEN 12 // d ELSE 0 END) AS BIGINT)
             AS harmonic_x12
    FROM best GROUP BY seed ORDER BY seed
    """,
    tags=("graph", "bfs", "orders", "lineitem"),
)
def graph_closeness_centrality_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality for a BOUNDED seed set via
    level-synchronous multi-source BFS on the customer↔part purchase
    bipartite graph, horizon 4: each of the 10 lowest-key customers
    expands one frontier join per level, levels are deduplicated
    (UNION semantics — the Spark side distincts each frontier, the
    oracle's recursive UNION does the same), and closeness is the
    EXACT harmonic sum ×12 (Σ 12/d over reached nodes; 12 = lcm(1..4)
    keeps every term an integer, so the hash certifies the whole
    reachability structure, not a rounded scalar).

    Scale: the seed set is the bound — frontier size ≤ seeds × nodes
    regardless of graph size, and each level is one equi-join against
    the spilled edge table (re-read, never recomputed: the
    linkage._purchase_edges spill discipline). Per-level distinct keeps
    the frontier a SET, so path multiplicity never amplifies rows —
    the same small-table iteration the k-core and pagerank family
    uses. Reference analog: none (blow has no joins)."""
    from blow_spark.queries.linkage import _purchase_edges

    edges = _purchase_edges(spark, sf_dir)
    seeds = (
        edges.select("c").distinct().orderBy("c").limit(10)
        .select(F.col("c").alias("seed"))
    )
    # frontier alternates sides: odd dist = parts, even dist = customers
    reached = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit("c").alias("side"),
        F.lit(0).alias("dist"),
    )
    frontier = reached
    for dist in range(1, 5):
        if dist % 2 == 1:  # expand customers -> parts
            nxt = (
                frontier.join(edges, frontier.node == edges.c)
                .select("seed", F.col("p").alias("node"))
                .distinct()
                .select("seed", "node", F.lit("p").alias("side"),
                        F.lit(dist).alias("dist"))
            )
        else:  # expand parts -> customers
            nxt = (
                frontier.join(edges, frontier.node == edges.p)
                .select("seed", F.col("c").alias("node"))
                .distinct()
                .select("seed", "node", F.lit("c").alias("side"),
                        F.lit(dist).alias("dist"))
            )
        # Round-15 REVERT of the round-14 per-level checkpoint_small
        # truncation (round-14 verdict item #2's criterion: revert if
        # its 32-core wall cost is >=10% real). Interleaved same-
        # session A/B at sf0.1 (scripts/ab_r15.py at commit accceb5,
        # min-of-4):
        # untruncated 5.77 s, eager checkpoint 6.51 s (+13%), lazy
        # checkpoint 6.87 s — the truncation's stage-count savings
        # (26 vs 30 scheduled stages) never translate to wall at this
        # depth, and the per-level coalesce(1) barrier costs real time.
        # The lazy chain's re-execution is bounded: each deeper level
        # re-derives only SEED-bounded frontier joins against the
        # spilled edge scan, and horizon 4 caps the duplication at 4x.
        reached = reached.unionByName(nxt)
        frontier = nxt
    best = reached.groupBy("seed", "node", "side").agg(F.min("dist").alias("d"))
    return (
        best.groupBy("seed")
        .agg(
            F.sum((F.col("d") == 1).cast("bigint")).alias("n_d1"),
            F.sum((F.col("d") == 2).cast("bigint")).alias("n_d2"),
            F.sum((F.col("d") == 3).cast("bigint")).alias("n_d3"),
            F.sum((F.col("d") == 4).cast("bigint")).alias("n_d4"),
            F.sum(
                F.when(F.col("d") > 0, F.expr("12 div d")).otherwise(0)
            ).cast("bigint").alias("harmonic_x12"),
        )
        .orderBy("seed")
    )


@register(
    "graph_modularity_score",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges
    ), within AS (
      SELECT CAST(c % 6 AS BIGINT) AS comm,
             CAST(COUNT(*) AS BIGINT) AS edges_within
      FROM edges WHERE c % 6 = p % 6 GROUP BY 1
    ), degs AS (
      SELECT comm, CAST(COUNT(*) AS BIGINT) AS degree_sum
      FROM (
        SELECT CAST(c % 6 AS BIGINT) AS comm FROM edges
        UNION ALL
        SELECT CAST(p % 6 AS BIGINT) FROM edges
      ) GROUP BY comm
    ), per AS (
      SELECT d.comm, COALESCE(w.edges_within, 0) AS edges_within,
             d.degree_sum,
             4 * m.m * CAST(COALESCE(w.edges_within, 0) AS HUGEINT)
               - CAST(d.degree_sum AS HUGEINT) * d.degree_sum
               AS contrib_x4m2
      FROM degs d LEFT JOIN within w USING (comm) CROSS JOIN m
    ), tot AS (
      SELECT CAST(SUM(contrib_x4m2) AS HUGEINT) AS num FROM per
    )
    SELECT per.comm, per.edges_within, per.degree_sum,
           CAST(per.contrib_x4m2 AS BIGINT) AS contrib_x4m2,
           CAST(ROUND(1000000.0 * CAST(tot.num AS DOUBLE)
                / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)))
                AS BIGINT) AS q_e6
    FROM per CROSS JOIN tot CROSS JOIN m
    ORDER BY per.comm
    """,
    tags=("graph", "communities", "orders", "lineitem", "exact"),
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (Newman & Girvan, PRE 2004) of a
    deterministic 6-way community assignment (node key mod 6) on the
    purchase bipartite graph — the quality score every community-
    detection pass (the existing label-propagation query) needs as its
    readout. Computed in the EXACT ×4m² integer form
    Q·4m² = Σ_c (4m·e_c − d_c²) (HUGEINT/DECIMAL(38,0) — d_c ≤ 2m can
    square past 64 bits at scale), with per-community contributions in
    the result so the hash certifies each community's balance, plus the
    final e6-rounded Q from ONE double division on identical operands.

    Scale: two keyed aggregates over the edge table (one filtered on
    same-community, one over unpivoted endpoints) + label-domain-sized
    (6-row) algebra; map-side combinable, no window. Reference analog:
    none."""
    from blow_spark.queries.linkage import _purchase_edges

    edges = _purchase_edges(spark, sf_dir)
    m = edges.agg(F.count("*").alias("m"))
    within = (
        edges.where(F.col("c") % 6 == F.col("p") % 6)
        .groupBy((F.col("c") % 6).cast("bigint").alias("comm"))
        .agg(F.count("*").alias("edges_within"))
    )
    degs = (
        edges.select((F.col("c") % 6).cast("bigint").alias("comm"))
        .unionAll(edges.select((F.col("p") % 6).cast("bigint").alias("comm")))
        .groupBy("comm")
        .agg(F.count("*").alias("degree_sum"))
    )
    per = (
        degs.join(within, "comm", "left")
        .na.fill({"edges_within": 0})
        .crossJoin(F.broadcast(m))
        .select(
            "comm",
            "edges_within",
            "degree_sum",
            (
                4 * F.col("m").cast("decimal(38,0)") * F.col("edges_within")
                - F.col("degree_sum").cast("decimal(38,0)")
                * F.col("degree_sum")
            ).alias("contrib_x4m2"),
            "m",
        )
    )
    tot = per.agg(F.sum("contrib_x4m2").alias("num"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "comm",
            "edges_within",
            "degree_sum",
            F.col("contrib_x4m2").cast("bigint").alias("contrib_x4m2"),
            F.round(
                1000000.0
                * F.col("num").cast("double")
                / (
                    4.0
                    * F.col("m").cast("double")
                    * F.col("m").cast("double")
                )
            )
            .cast("bigint")
            .alias("q_e6"),
        )
        .orderBy("comm")
    )


_BC_SEEDS = 8  # bounded seed set: the 8 smallest supplier node ids


@register(
    "graph_betweenness_seeded",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), und AS (
      SELECT a.p AS u, b.p AS v
      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), ed AS (
      SELECT u AS a, v AS b FROM und
      UNION ALL
      SELECT v AS a, u AS b FROM und
    ), nodes AS (
      SELECT DISTINCT a AS node FROM ed
    ), seeds AS (
      SELECT node AS sd FROM nodes ORDER BY node LIMIT 8
    ), l1 AS (
      SELECT s.sd, e.b AS node, CAST(COUNT(*) AS BIGINT) AS sig
      FROM seeds s JOIN ed e ON e.a = s.sd
      GROUP BY 1, 2
    ), l2 AS (
      SELECT x.sd, x.node, CAST(SUM(x.psig) AS BIGINT) AS sig
      FROM (
        SELECT p.sd, e.b AS node, p.sig AS psig
        FROM l1 p JOIN ed e ON e.a = p.node
      ) x
      LEFT JOIN l1 v1 ON v1.sd = x.sd AND v1.node = x.node
      WHERE x.node <> x.sd AND v1.node IS NULL
      GROUP BY 1, 2
    ), l3 AS (
      SELECT x.sd, x.node, CAST(SUM(x.psig) AS BIGINT) AS sig
      FROM (
        SELECT p.sd, e.b AS node, p.sig AS psig
        FROM l2 p JOIN ed e ON e.a = p.node
      ) x
      LEFT JOIN l1 v1 ON v1.sd = x.sd AND v1.node = x.node
      LEFT JOIN l2 v2 ON v2.sd = x.sd AND v2.node = x.node
      WHERE x.node <> x.sd AND v1.node IS NULL AND v2.node IS NULL
      GROUP BY 1, 2
    ), d2 AS (
      SELECT v.sd, v.node, v.sig,
             CAST(COALESCE(SUM((v.sig * 1000000) // w.sig), 0) AS BIGINT)
               AS dep_e6
      FROM l2 v
      LEFT JOIN ed e ON e.a = v.node
      LEFT JOIN l3 w ON w.sd = v.sd AND w.node = e.b
      GROUP BY 1, 2, 3
    ), d1 AS (
      SELECT v.sd, v.node, v.sig,
             CAST(COALESCE(SUM(
               (((v.sig * 1000000) // w.sig) * (1000000 + w.dep_e6))
                 // 1000000), 0) AS BIGINT) AS dep_e6
      FROM l1 v
      LEFT JOIN ed e ON e.a = v.node
      LEFT JOIN d2 w ON w.sd = v.sd AND w.node = e.b
      GROUP BY 1, 2, 3
    ), alldeps AS (
      SELECT sd, node, dep_e6 FROM d1
      UNION ALL
      SELECT sd, node, dep_e6 FROM d2
      UNION ALL
      SELECT sd, node, CAST(0 AS BIGINT) AS dep_e6 FROM l3
    )
    SELECT node,
           CAST(SUM(dep_e6) AS BIGINT) AS bc_e6,
           CAST(COUNT(*) AS BIGINT) AS n_seed_visits
    FROM alldeps
    GROUP BY node
    ORDER BY bc_e6 DESC, node
    """,
    tags=("graph", "centrality", "iterative"),
)
def graph_betweenness_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded betweenness centrality (Brandes, J. Math. Sociol. 2001 —
    the pivot/sampling form of Brandes & Pich 2007): exact depth-≤3
    single-source shortest-path DAGs from a BOUNDED deterministic seed
    set (the 8 smallest part ids in the graph) over the part
    co-purchase graph (parts co-ordered in ≥ 2 orders — the same edge
    rule as basket_part_pairs, which keeps it SPARSE: the supplier
    co-part graph is complete at every gate SF and would make every
    betweenness trivially zero),
    with the backward dependency accumulation δ(v) = Σ σv/σw·(1+δ(w))
    summed over seeds — the standard way betweenness is estimated when
    the full all-pairs Brandes is off the table at scale.

    Engine-exactness: path counts σ are exact BIGINTs from the level
    joins; the dependency recursion runs in e6 FIXED POINT where every
    step is a positive-integer floor division evaluated identically by
    both engines — r = σv·10⁶ div σw first (r ≤ 10⁶ since σv ≤ σw for
    a predecessor), then contribution = r·(10⁶+δw) div 10⁶, keeping
    every product under ~10⁶·(10⁶ + n·10⁶) — inside int64 to ~10⁶
    nodes, far beyond the part dimension.

    Scale: per-seed frontier tables are node-bounded; edges are
    dimension-grain (basket-bounded pair fan-out, the
    basket_part_pairs argument) and broadcast into every level join;
    the fact table contributes one distinct (order, part) projection.
    Seeds fix the work to |S|·|E| regardless of graph size — the
    estimator's whole point."""
    from blow_spark.materialize import checkpoint_small, spill_to_parquet

    li = read_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    und = (
        po.alias("a")
        .join(
            po.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 2)
        .select("u", "v")
    )
    ed = spill_to_parquet(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        ),
        "blow_spark_bc_ed_",
    )
    seeds = (
        ed.select(F.col("a").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_BC_SEEDS)
        .select(F.col("node").alias("sd"))
    )
    # round-14 optimization (guide §5): the per-level frontier and
    # dependency tables are SEED-bounded (|S|·nodes), so they truncate
    # via checkpoint_small instead of paying a parquet write job +
    # scan per level; the dimension-grain edge table keeps its spill
    # (it broadcasts into five joins and belongs on shared storage at
    # cluster scale)
    l1 = checkpoint_small(
        seeds.join(F.broadcast(ed), F.col("a") == F.col("sd"))
        .groupBy("sd", F.col("b").alias("node"))
        .agg(F.count("*").cast("bigint").alias("sig"))
    )

    def next_level(prev, *visited):
        x = (
            prev.join(F.broadcast(ed), F.col("a") == prev["node"])
            .select("sd", F.col("b").alias("node"), F.col("sig").alias("psig"))
            .where(F.col("node") != F.col("sd"))
        )
        for vis in visited:
            x = x.join(
                vis.select("sd", "node"), ["sd", "node"], "left_anti"
            )
        return x.groupBy("sd", "node").agg(
            F.sum("psig").cast("bigint").alias("sig")
        )

    l2 = checkpoint_small(next_level(l1, l1))
    l3 = checkpoint_small(next_level(l2, l1, l2))

    def dep_level(v, w, w_has_dep):
        succ = (
            v.join(F.broadcast(ed), F.col("a") == v["node"], "left")
            .join(
                w.select(
                    F.col("sd").alias("wsd"),
                    F.col("node").alias("wnode"),
                    F.col("sig").alias("wsig"),
                    *(
                        [F.col("dep_e6").alias("wdep")]
                        if w_has_dep
                        else [F.lit(0).cast("bigint").alias("wdep")]
                    ),
                ),
                (F.col("wsd") == v["sd"]) & (F.col("wnode") == F.col("b")),
                "left",
            )
        )
        contrib = F.expr(
            "((sig * 1000000L) div wsig) * (1000000L + wdep) div 1000000L"
        )
        return succ.groupBy("sd", "node", "sig").agg(
            F.coalesce(F.sum(contrib), F.lit(0)).cast("bigint").alias("dep_e6")
        )

    d2 = checkpoint_small(dep_level(l2, l3, False))
    d1 = dep_level(l1, d2, True)
    alldeps = (
        d1.select("sd", "node", "dep_e6")
        .unionByName(d2.select("sd", "node", "dep_e6"))
        .unionByName(
            l3.select("sd", "node", F.lit(0).cast("bigint").alias("dep_e6"))
        )
    )
    return (
        alldeps.groupBy("node")
        .agg(
            F.sum("dep_e6").cast("bigint").alias("bc_e6"),
            F.count("*").cast("bigint").alias("n_seed_visits"),
        )
        .orderBy(F.col("bc_e6").desc(), "node")
    )


# --------------------------------------------------------------------------
# Hash-seeded random-walk sampling
# --------------------------------------------------------------------------

#: walk plan: the 12 smallest customer keys seed 2 walks each, 4
#: transitions per walk over the bipartite customer-part co-purchase
#: graph (c -> p -> c -> p -> c).
_RW_SEEDS = 12
_RW_PER_SEED = 2
_RW_STEPS = 4


def _rw_pick(frm: str, to: str, step: int) -> str:
    """Deterministic 'coin': the next node is the neighbor minimizing
    md5(walk_id-step-neighbor) — a seeded hash choice both engines
    compute on identical strings (the md5-ordering discipline of
    ml_ransac_line_fit's hypothesis pool)."""
    # STRING is the cast type name BOTH dialects accept (Spark rejects
    # bare VARCHAR; DuckDB aliases STRING to VARCHAR)
    return (
        f"md5(concat(CAST(walk_id AS STRING), '-', '{step}', '-',"
        f" CAST({to} AS STRING)))"
    )


def _rw_oracle() -> str:
    steps = []
    out = [
        "SELECT walk_id, CAST(0 AS BIGINT) AS step, 'c' AS side,"
        " node FROM s0"
    ]
    for t in range(1, _RW_STEPS + 1):
        side_from, side_to = ("c", "p") if t % 2 == 1 else ("p", "c")
        prev = f"s{t - 1}"
        steps.append(
            f"""s{t} AS (
      SELECT w.walk_id,
             arg_min(e.{side_to}, {_rw_pick("w.node", f"e.{side_to}", t)})
               AS node
      FROM {prev} w JOIN edges e ON e.{side_from} = w.node
      GROUP BY 1
    )"""
        )
        out.append(
            f"SELECT walk_id, CAST({t} AS BIGINT), '{side_to}', node"
            f" FROM s{t}"
        )
    unions = "\n    UNION ALL\n    ".join(out)
    body = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), seeds AS (
      SELECT c FROM (SELECT DISTINCT c FROM edges ORDER BY c
                     LIMIT {_RW_SEEDS}) t
    ), s0 AS (
      SELECT c * 10 + j AS walk_id, c AS node
      FROM seeds, (SELECT UNNEST(range(0, {_RW_PER_SEED})) AS j) r
    ),
    {body}
    {unions}
    ORDER BY walk_id, step
    """


@register(
    "graph_seeded_random_walks",
    oracle=_rw_oracle(),
    tags=("graph", "sampling", "exact"),
)
def graph_seeded_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded random-walk corpus sampling over the bipartite
    customer-part co-purchase graph — the walk-generation stage of
    DeepWalk / node2vec embedding pipelines (Perozzi et al., KDD 2014;
    Grover & Leskovec, KDD 2016), made DETERMINISTIC the catalog way:
    the 'coin' at (walk, step) is arg-min over neighbors of
    md5(walk_id-step-neighbor) (the md5-ordering discipline of
    ml_ransac_line_fit), so both engines draw the identical walks with
    no RNG anywhere. {_RW_SEEDS} seed customers × {_RW_PER_SEED} walks
    × {_RW_STEPS} alternating c→p→c transitions.

    Scale: the edge table is the one corpus-scale shuffle
    (spill-backed); each step joins a WALK-COUNT-sized frontier
    (broadcast) against the edges and reduces with one per-walk
    arg-min aggregate — cost per step is degree-bounded neighbor
    enumeration, and walks parallelize over seeds, which is exactly
    how a 100 TB embedding corpus generates billions of walks.
    Reference analog: none (maps/maps.go:8-21)."""
    from blow_spark.materialize import checkpoint_small, spill_to_parquet

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    edges = spill_to_parquet(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct(),
        "blow_spark_rw_edges_",
    )
    seeds = (
        edges.select("c").distinct().orderBy("c").limit(_RW_SEEDS)
    )
    walks = seeds.crossJoin(
        F.broadcast(
            spark.range(_RW_PER_SEED).select(F.col("id").alias("j"))
        )
    ).select((F.col("c") * 10 + F.col("j")).alias("walk_id"), F.col("c").alias("node"))
    out = [
        walks.select(
            "walk_id",
            F.lit(0).cast("long").alias("step"),
            F.lit("c").alias("side"),
            "node",
        )
    ]
    cur = walks
    for t in range(1, _RW_STEPS + 1):
        side_from, side_to = ("c", "p") if t % 2 == 1 else ("p", "c")
        cand = F.broadcast(cur).join(
            edges, cur["node"] == edges[side_from]
        )
        # each frontier is materialized: the output UNION references
        # every step, and without truncation each branch would re-derive
        # the whole walk prefix (steps² edge scans instead of one per
        # step). Round-15 (guide §5, the betweenness lesson): the
        # frontier is WALK-COUNT-bounded (24 rows at any data size —
        # seeds × walks, a plan constant), so it rides checkpoint_small
        # instead of paying a parquet write job + commit + scan per
        # step; the data-proportional EDGE table above keeps its spill.
        nxt = checkpoint_small(
            cand.groupBy("walk_id").agg(
                F.expr(
                    f"min_by({side_to}, {_rw_pick('node', side_to, t)})"
                ).alias("node")
            )
        )
        out.append(
            nxt.select(
                "walk_id",
                F.lit(t).cast("long").alias("step"),
                F.lit(side_to).alias("side"),
                "node",
            )
        )
        cur = nxt
    from functools import reduce

    return reduce(DataFrame.unionByName, out).orderBy("walk_id", "step")
