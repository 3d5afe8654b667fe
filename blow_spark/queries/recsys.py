"""Recommendation / preference-learning shelf (round 9): item-item
collaborative filtering and Bradley-Terry strength estimation from
pairwise outcomes.

Both are LLM-adjacent workhorses: item-item cosine is the co-occurrence
similarity every "more like this" retrieval layer starts from, and
Bradley-Terry is the model under RLHF preference aggregation and
LLM-arena leaderboards (rank items from pairwise win/loss records).

Reference parity note: the reference engine (wizgrao/blow) has no join
or aggregate surface (maps/maps.go:8-21); these extend the repo's
basket (basket_part_pairs, basket_association_rules) and iterative
(graph_pagerank_bipartite) families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from blow_spark.queries import register
from blow_spark.sources import read_table

_II_MIN_CO = 5    # minimum co-basket support
_II_TOPK = 20


@register(
    "recsys_item_item_cosine",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS ord, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), ni AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM basket GROUP BY item
    ), co AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS co_n
      FROM basket a JOIN basket b
        ON a.ord = b.ord AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= {_II_MIN_CO}
    )
    SELECT item_a, item_b, co_n,
           na.n AS n_a, nb.n AS n_b,
           CAST(ROUND(CAST(co_n AS DOUBLE)
                      / SQRT(CAST(na.n AS DOUBLE) * nb.n)
                      * 1000000) AS BIGINT) AS cosine_e6
    FROM co
    JOIN ni na ON na.item = co.item_a
    JOIN ni nb ON nb.item = co.item_b
    ORDER BY cosine_e6 DESC, item_a, item_b
    LIMIT {_II_TOPK}
    """,
    tags=("recsys", "similarity", "lineitem"),
)
def recsys_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al., WWW 2001 —
    the Amazon-style co-occurrence recommender): treat each order as a
    basket of brands, cosine(i,j) = co(i,j)/√(nᵢnⱼ) over binary basket
    membership, minimum co-support 5, top-20 pairs. The totally-
    ordered (cosine, pair) sort key makes the LIMIT row set unique.

    Engine-exact: all counts BIGINT; the cosine is one division and
    one √ of identical integer operands, fix-pointed to e6.

    Scale: the pair generation self-joins WITHIN the order key — pair
    fan-out is C(brands_per_order, 2), bounded by the basket (≤11 in
    the fixture, a data property not a table size), the same
    per-basket bound basket_part_pairs carries (SCALE.md round-9
    table); the co-matrix is at most item-domain² AFTER the one
    order-keyed shuffle, and the nᵢ join is a broadcast-sized item
    table."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from blow_spark.materialize import spill_to_parquet

    # spilled: the item margins and BOTH pair-join sides read it — three
    # recomputations of the lineitem-part join otherwise
    basket = spill_to_parquet(
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("ord"), F.col("p_brand").alias("item"))
        .distinct(),
        "blow_spark_ii_basket_",
    )
    ni = basket.groupBy("item").agg(F.count("*").cast("bigint").alias("n"))
    a = basket.select("ord", F.col("item").alias("item_a"))
    b = basket.select("ord", F.col("item").alias("item_b"))
    co = (
        a.join(b, "ord")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("co_n"))
        .where(F.col("co_n") >= _II_MIN_CO)
    )
    na = ni.select(F.col("item").alias("item_a"), F.col("n").alias("n_a"))
    nb = ni.select(F.col("item").alias("item_b"), F.col("n").alias("n_b"))
    return (
        co.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "co_n",
            "n_a",
            "n_b",
            F.round(
                F.col("co_n").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("cosine_e6"),
        )
        .orderBy(F.col("cosine_e6").desc(), "item_a", "item_b")
        .limit(_II_TOPK)
    )


# Bradley-Terry: pairwise outcomes are derived deterministically from
# the data — within an order, brand a "beats" brand b when its total
# quantity is strictly higher (ties are skipped, the standard BT
# convention). Three MM iterations (Hunter, Annals of Statistics 2004),
# every iterate fix-pointed so both engines walk identical states.
_BT_ITERS = 3


def _bt_oracle_sql() -> str:
    ctes = [
        """basket AS MATERIALIZED (
      SELECT l.l_orderkey AS ord, p.p_brand AS item,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY l.l_orderkey, p.p_brand
    )""",
        """games AS MATERIALIZED (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(SUM(CASE WHEN a.qty > b.qty THEN 1 ELSE 0 END) AS BIGINT)
               AS w_a,
             CAST(SUM(CASE WHEN b.qty > a.qty THEN 1 ELSE 0 END) AS BIGINT)
               AS w_b
      FROM basket a JOIN basket b
        ON a.ord = b.ord AND a.item < b.item
      WHERE a.qty <> b.qty
      GROUP BY a.item, b.item
    )""",
        """wins AS MATERIALIZED (
      SELECT item, CAST(SUM(w) AS BIGINT) AS wtot FROM (
        SELECT item_a AS item, w_a AS w FROM games
        UNION ALL
        SELECT item_b AS item, w_b AS w FROM games
      ) u GROUP BY item
    )""",
        """p0 AS MATERIALIZED (
      SELECT item, CAST(1000000000 AS BIGINT) AS p_e9 FROM wins
    )""",
        """nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM wins)""",
    ]
    for t in range(1, _BT_ITERS + 1):
        prev = f"p{t - 1}"
        ctes.append(
            f"""den{t} AS MATERIALIZED (
      SELECT item, CAST(SUM(t_e6) AS BIGINT) AS den_e6 FROM (
        SELECT g.item_a AS item,
               CAST(ROUND(CAST(g.w_a + g.w_b AS DOUBLE) * 1000000000000000
                          / (pa.p_e9 + pb.p_e9)) AS BIGINT) AS t_e6
        FROM games g
        JOIN {prev} pa ON pa.item = g.item_a
        JOIN {prev} pb ON pb.item = g.item_b
        UNION ALL
        SELECT g.item_b AS item,
               CAST(ROUND(CAST(g.w_a + g.w_b AS DOUBLE) * 1000000000000000
                          / (pa.p_e9 + pb.p_e9)) AS BIGINT) AS t_e6
        FROM games g
        JOIN {prev} pa ON pa.item = g.item_a
        JOIN {prev} pb ON pb.item = g.item_b
      ) u GROUP BY item
    )""")
        ctes.append(
            f"""raw{t} AS MATERIALIZED (
      SELECT w.item,
             CAST(ROUND(CAST(w.wtot AS DOUBLE) * 1000000000000000000
                        / d.den_e6) AS BIGINT) AS raw_e12
      FROM wins w JOIN den{t} d ON d.item = w.item
    )""")
        ctes.append(
            f"""p{t} AS MATERIALIZED (
      SELECT r.item,
             CAST(ROUND(CAST(r.raw_e12 AS DOUBLE) * (nb.b * 1000000000)
                        / s.tot) AS BIGINT) AS p_e9
      FROM raw{t} r
      CROSS JOIN (SELECT CAST(SUM(raw_e12) AS BIGINT) AS tot FROM raw{t}) s
      CROSS JOIN nb
    )""")
        ctes.append(
            f"""ll{t} AS (
      SELECT CAST(SUM(t_e6) AS BIGINT) AS ll_e6,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM (
        SELECT CAST(ROUND((g.w_a * LN(CAST(pa.p_e9 AS DOUBLE)
                                      / (pa.p_e9 + pb.p_e9))
                         + g.w_b * LN(CAST(pb.p_e9 AS DOUBLE)
                                      / (pa.p_e9 + pb.p_e9)))
                          * 1000000) AS BIGINT) AS t_e6
        FROM games g
        JOIN p{t} pa ON pa.item = g.item_a
        JOIN p{t} pb ON pb.item = g.item_b
      ) u
    )""")
        ctes.append(
            f"""top{t} AS (
      SELECT MIN(item) AS top_item, MAX(mx) AS top_p_e9 FROM (
        SELECT item, p_e9, MAX(p_e9) OVER () AS mx FROM p{t}
      ) u WHERE p_e9 = mx
    )""")
    rows = []
    for t in range(1, _BT_ITERS + 1):
        if t == 1:
            mono = "TRUE"
        else:
            mono = (
                f"ll{t}.ll_e6 >= ll{t - 1}.ll_e6"
                f" - ll{t}.n_terms - ll{t - 1}.n_terms"
            )
        rows.append(
            f"""SELECT CAST({t} AS BIGINT) AS iteration,
             ll{t}.ll_e6 AS loglik_e6,
             {mono} AS monotone_ok,
             top{t}.top_item, top{t}.top_p_e9
      FROM ll{t} CROSS JOIN top{t}"""
            + ("" if t == 1 else f" CROSS JOIN ll{t - 1}")
        )
    union = "\n      UNION ALL\n      ".join(rows)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT * FROM (
      {union}
    ) ORDER BY iteration"""
    )


@register(
    "rank_bradley_terry_mm",
    oracle=_bt_oracle_sql(),
    tags=("recsys", "ranking", "iterative", "lineitem"),
)
def rank_bradley_terry_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise outcomes via
    the MM algorithm (Hunter, Annals of Statistics 2004) — the model
    under RLHF preference aggregation and LLM-arena leaderboards.
    Pairwise records are derived from the data (within an order, the
    brand with strictly higher total quantity wins; ties skipped);
    three full MM rounds p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized
    to Σp = #items each round. Emits one row per iteration with the
    log-likelihood and a monotone_ok proof bit — MM guarantees ℓ
    non-decreasing in exact arithmetic; the bit allows only the
    fix-point rounding slack (1 e6-unit per pair term per side).

    Engine-exact: every iterate p_e9 is an INTEGER vector — per-pair
    denominator terms round to e6 BEFORE the per-item sum (BIGINT, no
    float order), the raw update is a single division of
    deterministically-converted integers, and normalization is one
    more single division against an exact BIGINT total. The
    log-likelihood fix-points per pair term (LN carries the catalog's
    1-ulp allowance). Argmax is MAX(p) + MIN(item at max) — no
    nondeterministic max_by, no window.

    Scale: games aggregate to the item-pair grain (≤ domain²) after
    ONE order-keyed shuffle with basket-bounded fan-out (same bound as
    recsys_item_item_cosine); each MM round is arithmetic over the
    pair and item tables — sizes set by the ITEM DOMAIN, not the
    corpus. Each 25-row iterate is a ``checkpoint_small`` cut
    (storage policy: the ``blow_spark.materialize`` docstring; round-14:
    was a parquet spill per iterate — a write job + scan of pure
    overhead at this size; guide §5)."""
    from blow_spark.materialize import checkpoint_small, spill_to_parquet

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("l_orderkey").alias("ord"), F.col("p_brand").alias("item")
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    a = basket.select(
        "ord", F.col("item").alias("item_a"), F.col("qty").alias("qty_a")
    )
    b = basket.select(
        "ord", F.col("item").alias("item_b"), F.col("qty").alias("qty_b")
    )
    games = spill_to_parquet(
        a.join(b, "ord")
        .where(
            (F.col("item_a") < F.col("item_b"))
            & (F.col("qty_a") != F.col("qty_b"))
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum((F.col("qty_a") > F.col("qty_b")).cast("int"))
            .cast("bigint")
            .alias("w_a"),
            F.sum((F.col("qty_b") > F.col("qty_a")).cast("int"))
            .cast("bigint")
            .alias("w_b"),
        ),
        "blow_spark_bt_games_",
    )
    wins = (
        games.select(F.col("item_a").alias("item"), F.col("w_a").alias("w"))
        .unionAll(
            games.select(F.col("item_b").alias("item"), F.col("w_b").alias("w"))
        )
        .groupBy("item")
        .agg(F.sum("w").cast("bigint").alias("wtot"))
    )
    # round-14 optimization: the per-round iterate tables are ITEM-
    # DOMAIN-sized (~25 rows) — a checkpoint_small cut instead of a
    # parquet spill per table saves a write job + scan per round
    # (guide §5); `games` stays a parquet spill (pair-grain, the
    # mergeable unit a cluster run would keep on shared storage)
    wins = checkpoint_small(wins)
    nb = wins.agg(F.count("*").cast("bigint").alias("b"))

    p = wins.select("item", F.lit(1_000_000_000).cast("bigint").alias("p_e9"))
    rows = []
    prev_ll = None
    for t in range(1, _BT_ITERS + 1):
        pa = p.select(F.col("item").alias("item_a"), F.col("p_e9").alias("pa"))
        pb = p.select(F.col("item").alias("item_b"), F.col("p_e9").alias("pb"))
        gj = games.join(F.broadcast(pa), "item_a").join(F.broadcast(pb), "item_b")
        term = F.round(
            (F.col("w_a") + F.col("w_b")).cast("double")
            * 1e15
            / (F.col("pa") + F.col("pb"))
        ).cast("bigint")
        den = (
            gj.select(F.col("item_a").alias("item"), term.alias("t_e6"))
            .unionAll(gj.select(F.col("item_b").alias("item"), term.alias("t_e6")))
            .groupBy("item")
            .agg(F.sum("t_e6").cast("bigint").alias("den_e6"))
        )
        raw = wins.join(den, "item").select(
            "item",
            F.round(F.col("wtot").cast("double") * 1e18 / F.col("den_e6"))
            .cast("bigint")
            .alias("raw_e12"),
        )
        tot = raw.agg(F.sum("raw_e12").cast("bigint").alias("tot"))
        p = checkpoint_small(
            raw.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(nb))
            .select(
                "item",
                F.round(
                    F.col("raw_e12").cast("double")
                    * (F.col("b") * 1_000_000_000)
                    / F.col("tot")
                )
                .cast("bigint")
                .alias("p_e9"),
            )
        )
        pa2 = p.select(F.col("item").alias("item_a"), F.col("p_e9").alias("pa"))
        pb2 = p.select(F.col("item").alias("item_b"), F.col("p_e9").alias("pb"))
        ll_term = F.round(
            (
                F.col("w_a")
                * F.log(F.col("pa").cast("double") / (F.col("pa") + F.col("pb")))
                + F.col("w_b")
                * F.log(F.col("pb").cast("double") / (F.col("pa") + F.col("pb")))
            )
            * 1_000_000
        ).cast("bigint")
        ll = (
            games.join(F.broadcast(pa2), "item_a")
            .join(F.broadcast(pb2), "item_b")
            .select(ll_term.alias("t_e6"))
            .agg(
                F.sum("t_e6").cast("bigint").alias("ll_e6"),
                F.count("*").cast("bigint").alias("n_terms"),
            )
        )
        top_p = p.agg(F.max("p_e9").alias("mx"))
        top = (
            p.crossJoin(F.broadcast(top_p))
            .where(F.col("p_e9") == F.col("mx"))
            .agg(
                F.min("item").alias("top_item"),
                F.max("p_e9").cast("bigint").alias("top_p_e9"),
            )
        )
        if prev_ll is None:
            row = ll.crossJoin(top).select(
                F.lit(t).cast("bigint").alias("iteration"),
                F.col("ll_e6").alias("loglik_e6"),
                F.lit(True).alias("monotone_ok"),
                "top_item",
                "top_p_e9",
            )
        else:
            pl = prev_ll.select(
                F.col("ll_e6").alias("prev_e6"),
                F.col("n_terms").alias("prev_terms"),
            )
            row = (
                ll.crossJoin(top)
                .crossJoin(pl)
                .select(
                    F.lit(t).cast("bigint").alias("iteration"),
                    F.col("ll_e6").alias("loglik_e6"),
                    (
                        F.col("ll_e6")
                        >= F.col("prev_e6")
                        - F.col("n_terms")
                        - F.col("prev_terms")
                    ).alias("monotone_ok"),
                    "top_item",
                    "top_p_e9",
                )
            )
        rows.append(row)
        prev_ll = ll
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("iteration")


_COVIS_TOPK = 25
# Brand-grain items: order "baskets" are the distinct brands in each
# order; transitions pair a basket with the SAME customer's next order.
# Brand grain keeps the per-adjacent-pair fan-out ≤ |brands in a|·
# |brands in b| ≤ 25·25 regardless of corpus size (part grain would be
# bounded too — ~7 lines/order — but brand grain also makes the result
# non-sparse at the small gate SFs).


@register(
    "recsys_covisitation_next_item",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rnk
      FROM orders
    ), basket AS (
      SELECT s.o_custkey, s.rnk, p.p_brand AS brand
      FROM seq s
      JOIN lineitem l ON l.l_orderkey = s.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2, 3
    ), trans AS (
      SELECT a.brand AS brand_from, b.brand AS brand_to,
             CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM basket a
      JOIN basket b ON b.o_custkey = a.o_custkey AND b.rnk = a.rnk + 1
      GROUP BY 1, 2
    ), outdeg AS (
      SELECT brand_from, CAST(SUM(n_trans) AS BIGINT) AS n_from
      FROM trans GROUP BY brand_from
    )
    SELECT t.brand_from, t.brand_to, t.n_trans, o.n_from,
           CAST(ROUND(CAST(t.n_trans AS DOUBLE) / o.n_from * 1000000)
                AS BIGINT) AS p_next_e6
    FROM trans t JOIN outdeg o USING (brand_from)
    ORDER BY t.n_trans DESC, t.brand_from, t.brand_to
    LIMIT {_COVIS_TOPK}
    """,
    tags=("recsys", "graph", "sequence"),
)
def recsys_covisitation_next_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-item covisitation counts — the transition statistics behind
    session-based "customers who bought X next bought Y" recommenders
    (the Markov-chain baseline; also the candidate generator of the
    covisitation-matrix approach that dominates e-commerce recsys
    leaderboards): each customer's orders are sequenced, each order's
    distinct-brand basket is paired with the SAME customer's NEXT
    basket, and transitions aggregate to (brand_from, brand_to) counts
    with the row-conditional next-purchase probability at e6 fixed
    point (one division of exact BIGINTs). Top-{_COVIS_TOPK} by a
    provably total order.

    Scale: sequencing is a partitioned (parallel) per-customer window;
    adjacent-basket pairing is an equi-join on (custkey, rnk) — NO
    range join, no session explosion — and the per-pair fan-out is
    capped by the 25-brand domain on each side. The transition matrix
    itself is ≤ 25×25 rows at any corpus size, so the normalizing join
    is map-side."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    seq = o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("rnk"),
    )
    from blow_spark.materialize import spill_to_parquet

    # the basket frame feeds BOTH self-join sides; spilled so the
    # 3-table join + distinct isn't re-derived per reference (the same
    # lesson as linkage._purchase_edges)
    basket = spill_to_parquet(
        seq.join(li, li.l_orderkey == seq.o_orderkey)
        .join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .select("o_custkey", "rnk", F.col("p_brand").alias("brand"))
        .distinct(),
        "blow_spark_covis_basket_",
    )
    a = basket.select("o_custkey", "rnk", F.col("brand").alias("brand_from"))
    b = basket.select(
        "o_custkey", (F.col("rnk") - 1).alias("rnk"), F.col("brand").alias("brand_to")
    )
    trans = (
        a.join(b, ["o_custkey", "rnk"])
        .groupBy("brand_from", "brand_to")
        .agg(F.count("*").cast("bigint").alias("n_trans"))
    )
    outdeg = trans.groupBy("brand_from").agg(
        F.sum("n_trans").cast("bigint").alias("n_from")
    )
    return (
        trans.join(F.broadcast(outdeg), "brand_from")
        .select(
            "brand_from",
            "brand_to",
            "n_trans",
            "n_from",
            F.round(F.col("n_trans").cast("double") / F.col("n_from") * 1e6)
            .cast("bigint")
            .alias("p_next_e6"),
        )
        .orderBy(F.desc("n_trans"), "brand_from", "brand_to")
        .limit(_COVIS_TOPK)
    )
