"""Retrieval-stack queries: hybrid rank fusion and diversity reranking.

The RAG-serving side of a training-data platform: candidates come from
TWO independent rankers (a lexical token-overlap ranker and the exact
dense-cosine ranker), are fused with Reciprocal Rank Fusion (Cormack,
Clarke & Buettcher, SIGIR 2009), and optionally re-ranked for diversity
with Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998).

Reference parity note: the reference engine (wizgrao/blow) has no
retrieval surface at all — maps/maps.go:8-14 is its entire operator
vocabulary — so these are extension operators mandated by the task
brief's LLM-pipeline layer, built on the repo's existing exact-cosine
primitives (blow_spark.similarity.brute_force_topk).

Determinism: every score that decides an ordering is integer-valued —
RRF contributions are exact integer divisions ``1e9 DIV (K + rank)``,
MMR scores are pure-bigint combinations of µ-unit cosines — and every
rank breaks ties on the id column, so both engines select identical row
sets and the driver's value hash matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from blow_spark import similarity
from blow_spark.queries import register
from blow_spark.sources import read_table

# RRF constant from the original paper; the 1e9 numerator keeps the
# integer-division contributions well-separated down to rank ~100.
_RRF_K = 60
_RRF_NUM = 1_000_000_000
_N_QUERIES = 8  # query documents: doc_id < 8 (embedded in both gate SFs)
_LIST_DEPTH = 50  # per-ranker truncation depth
_FUSED_TOPK = 10


def _dense_ranked(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """Exact cosine rank list (query_id, cand_id, rank) at the given
    depth for the first ``_N_QUERIES`` vectors, from the engine's exact
    scorer (int64 fixed-point sums, (−cos, id) tie-break — the
    arithmetic the oracle below replays): one numpy pass per corpus
    batch."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.brute_force_topk(q, e, k=depth).select(
        "query_id", F.col("neighbor_id").alias("cand_id"), "rank"
    )


@register(
    "search_rrf_hybrid_fusion",
    oracle=f"""
    WITH cands AS (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id IN (SELECT vec_id FROM embeddings)
    ), qtok AS (
      SELECT doc_id AS query_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
      FROM cands WHERE doc_id < {_N_QUERIES}
    ), ctok AS (
      SELECT doc_id AS cand_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
      FROM cands
    ), overlap AS (
      SELECT query_id, cand_id, COUNT(*) AS ov
      FROM ctok JOIN qtok USING (tok)
      WHERE query_id <> cand_id
      GROUP BY query_id, cand_id
    ), lex AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ov DESC, cand_id) AS rank
      FROM overlap
    ), qe AS (
      SELECT vec_id AS query_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS qx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
      WHERE vec_id < {_N_QUERIES}
    ), ce AS (
      SELECT vec_id AS cand_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS cx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
    ), dot AS (
      SELECT query_id, cand_id,
             SUM(CAST(ROUND(qx * cx * 1000000000000.0) AS BIGINT)) AS dot_q,
             SUM(CAST(ROUND(qx * qx * 1000000000000.0) AS BIGINT)) AS qn_q,
             SUM(CAST(ROUND(cx * cx * 1000000000000.0) AS BIGINT)) AS cn_q
      FROM ce JOIN qe USING (pos)
      WHERE query_id <> cand_id
      GROUP BY query_id, cand_id
    ), dense AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY CAST(dot_q AS DOUBLE)
                   / (SQRT(CAST(qn_q AS DOUBLE)) * SQRT(CAST(cn_q AS DOUBLE))) DESC,
                 cand_id) AS rank
      FROM dot
    ), contrib AS (
      SELECT query_id, cand_id,
             CAST({_RRF_NUM} // ({_RRF_K} + rank) AS BIGINT) AS c
      FROM lex WHERE rank <= {_LIST_DEPTH}
      UNION ALL
      SELECT query_id, cand_id,
             CAST({_RRF_NUM} // ({_RRF_K} + rank) AS BIGINT) AS c
      FROM dense WHERE rank <= {_LIST_DEPTH}
    ), fused AS (
      SELECT query_id, cand_id,
             CAST(SUM(c) AS BIGINT) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM contrib GROUP BY query_id, cand_id
    )
    SELECT query_id, cand_id AS doc_id, rrf_score, n_lists, fused_rank FROM (
      SELECT query_id, cand_id, rrf_score, n_lists,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, cand_id) AS fused_rank
      FROM fused) t
    WHERE fused_rank <= {_FUSED_TOPK}
    """,
    tags=("retrieval", "search", "fusion", "llm"),
)
def search_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: a lexical ranker
    (distinct-token overlap with the query document, the degenerate
    integer form of BM25 — the full-weighted form is
    ``text_bm25_search``) and the exact dense-cosine ranker each
    produce a depth-50 list per query; each hit contributes the exact
    integer ``1e9 DIV (60 + rank)`` and the per-document sums pick the
    fused top-10. RRF is THE standard way production RAG stacks combine
    a keyword index with a vector index (Cormack et al. 2009), and it
    needs no score calibration — only ranks — which is also what makes
    it engine-exact here.

    Scale shape: both rank lists are depth-truncated per query, so the
    fusion input is |Q|·2·50 rows regardless of corpus size; the
    per-query rank windows partition BY QUERY (never a global window).
    The lexical side broadcasts only the query docs' distinct tokens;
    the dense side is the bounded brute-force plan (at 10⁹-corpus scale
    its drop-in replacements are the bucketed ivf/srp paths — same
    (query_id, cand_id, rank) contract, fusion unchanged)."""
    cands = (
        read_table(spark, sf_dir, "documents")
        .join(
            read_table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
        .select("doc_id", "text")
    )
    toks = F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    qtok = cands.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("query_id"), toks
    )
    ctok = cands.select(F.col("doc_id").alias("cand_id"), toks)
    overlap = (
        ctok.join(F.broadcast(qtok), "tok")
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.count("*").alias("ov"))
    )
    lex_w = W.partitionBy("query_id").orderBy(F.col("ov").desc(), F.col("cand_id"))
    lex = overlap.select(
        "query_id", "cand_id", F.row_number().over(lex_w).alias("rank")
    ).filter(F.col("rank") <= _LIST_DEPTH)
    dense = _dense_ranked(spark, sf_dir, _LIST_DEPTH)
    contrib = F.expr(f"CAST({_RRF_NUM} DIV ({_RRF_K} + rank) AS BIGINT)").alias("c")
    fused = (
        lex.select("query_id", "cand_id", contrib)
        .unionAll(dense.select("query_id", "cand_id", contrib))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("c").alias("rrf_score"), F.count("*").alias("n_lists"))
    )
    fuse_w = W.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(fuse_w))
        .filter(F.col("fused_rank") <= _FUSED_TOPK)
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            "rrf_score",
            "n_lists",
            "fused_rank",
        )
    )


# --------------------------------------------------------------------------
# MMR diversity rerank
# --------------------------------------------------------------------------

_MMR_CANDS = 25  # per-query candidate depth entering the rerank
_MMR_SELECT = 5  # greedy selections per query
# λ = 0.7 realized as integer weights ×10: score = 7·rel_µ − 3·maxsim_µ


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as explicit CTE steps (one per selection) —
    the same integer arithmetic the Spark plan runs, so the gate checks
    the full selection trajectory, not just the final set."""
    head = f"""
    WITH qe AS (
      SELECT vec_id AS query_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS qx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
      WHERE vec_id < {_N_QUERIES}
    ), ce AS (
      SELECT vec_id AS cand_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS cx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
    ), dot AS (
      SELECT query_id, cand_id,
             SUM(CAST(ROUND(qx * cx * 1000000000000.0) AS BIGINT)) AS dot_q,
             SUM(CAST(ROUND(qx * qx * 1000000000000.0) AS BIGINT)) AS qn_q,
             SUM(CAST(ROUND(cx * cx * 1000000000000.0) AS BIGINT)) AS cn_q
      FROM ce JOIN qe USING (pos)
      WHERE query_id <> cand_id
      GROUP BY query_id, cand_id
    ), cand AS (
      SELECT query_id, cand_id,
             CAST(ROUND(CAST(dot_q AS DOUBLE)
               / (SQRT(CAST(qn_q AS DOUBLE)) * SQRT(CAST(cn_q AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS rel_mu
      FROM (
        SELECT query_id, cand_id, dot_q, qn_q, cn_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY CAST(dot_q AS DOUBLE)
                     / (SQRT(CAST(qn_q AS DOUBLE)) * SQRT(CAST(cn_q AS DOUBLE))) DESC,
                   cand_id) AS rank
        FROM dot) t
      WHERE rank <= {_MMR_CANDS}
    ), upair AS (
      SELECT DISTINCT LEAST(a.cand_id, b.cand_id) AS a_id,
                      GREATEST(a.cand_id, b.cand_id) AS b_id
      FROM cand a JOIN cand b USING (query_id)
      WHERE a.cand_id < b.cand_id
    ), pe AS (
      SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
      WHERE vec_id IN (SELECT a_id FROM upair UNION SELECT b_id FROM upair)
    ), simtab AS (
      SELECT a_id, b_id,
             CAST(ROUND(CAST(SUM(CAST(ROUND(pa.x * pb.x * 1000000000000.0) AS BIGINT)) AS DOUBLE)
               / (SQRT(CAST(SUM(CAST(ROUND(pa.x * pa.x * 1000000000000.0) AS BIGINT)) AS DOUBLE))
                  * SQRT(CAST(SUM(CAST(ROUND(pb.x * pb.x * 1000000000000.0) AS BIGINT)) AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS sim_mu
      FROM upair
      JOIN pe pa ON pa.vec_id = a_id
      JOIN pe pb ON pb.vec_id = b_id AND pb.pos = pa.pos
      GROUP BY a_id, b_id
    ), sel1 AS (
      SELECT query_id, cand_id AS sel_id, CAST(1 AS INT) AS step,
             7 * rel_mu AS score_mu
      FROM (SELECT query_id, cand_id, rel_mu,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel_mu DESC, cand_id) AS rn
            FROM cand) t
      WHERE rn = 1
    )"""
    steps = []
    prev_union = "SELECT * FROM sel1"
    for s in range(2, _MMR_SELECT + 1):
        steps.append(f""", seen{s} AS (
      {prev_union}
    ), scored{s} AS (
      SELECT c.query_id, c.cand_id, c.rel_mu,
             7 * c.rel_mu - 3 * MAX(st.sim_mu) AS score_mu
      FROM cand c
      JOIN seen{s} sn ON sn.query_id = c.query_id
      JOIN simtab st ON st.a_id = LEAST(c.cand_id, sn.sel_id)
                    AND st.b_id = GREATEST(c.cand_id, sn.sel_id)
      WHERE NOT EXISTS (SELECT 1 FROM seen{s} x
                        WHERE x.query_id = c.query_id AND x.sel_id = c.cand_id)
      GROUP BY c.query_id, c.cand_id, c.rel_mu
    ), sel{s} AS (
      SELECT query_id, cand_id AS sel_id, CAST({s} AS INT) AS step, score_mu
      FROM (SELECT query_id, cand_id, score_mu,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score_mu DESC, cand_id) AS rn
            FROM scored{s}) t
      WHERE rn = 1
    )""")
        prev_union += f" UNION ALL SELECT * FROM sel{s}"
    tail = f"""
    SELECT query_id, sel_id AS doc_id, step, score_mu
    FROM ({prev_union}) u
    """
    return head + "".join(steps) + tail


@register(
    "search_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("retrieval", "search", "rerank", "llm"),
)
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    greedily select 5 of the exact-cosine top-25 per query, each step
    maximizing ``λ·relevance − (1−λ)·max-similarity-to-selected`` with
    λ = 0.7 realized as the pure-integer score ``7·rel_µ − 3·maxsim_µ``
    over µ-unit cosines — the standard diversity pass between retrieval
    and prompt assembly in a RAG stack.

    Spark-first shape: the greedy loop has a FIXED public iteration
    count (5), so it unrolls into one declarative plan — per-step argmax
    is a struct-MAX AGGREGATE per query (no windows, no driver loop,
    like the unrolled rounds of ``tokenizer_bpe_merges``); candidate
    sets are constant-size (25) per query, so every per-step join is
    |Q|-proportional and the candidate pair-similarity table is built
    ONCE over distinct co-occurring pairs (≤ |Q|·C²/2 rows, queries
    pooled). Each step references the selection set twice (anti-join +
    penalty join), so the raw lineage is exponential in steps —
    ``localCheckpoint`` per step truncates it exactly as the graph
    iterations do (ops.py pagerank/BFS); the checkpointed frames are
    ≤ |Q|·steps rows. The oracle replays the full selection trajectory
    through the same unrolled integer arithmetic, so a tie-break slip
    or a penalty miscount in ANY step turns the row red."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    cand = similarity.brute_force_topk(q, e, k=_MMR_CANDS).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.round(F.col("cos_sim") * 1_000_000).cast("long").alias("rel_mu"),
    )
    # Truncate the brute-force-topk lineage once: cand is |Q|·25 rows
    # and is referenced by every unrolled step below. coalesce(1) first:
    # every downstream job over these constant-size frames then runs
    # single-task instead of shuffle_partitions tasks — at 5 unrolled
    # steps the scheduling overhead is the whole cost of this operator.
    cand = cand.coalesce(1).localCheckpoint()
    # unordered co-occurring candidate pairs → exact µ-unit cosine table
    a, b = cand.alias("a"), cand.alias("b")
    upair = (
        a.join(b, "query_id")
        .filter(F.col("a.cand_id") < F.col("b.cand_id"))
        .select(
            F.col("a.cand_id").alias("query_id"),
            F.col("b.cand_id").alias("neighbor_id"),
        )
        .distinct()
    )
    simtab = (
        similarity._rescore_candidates(upair, e)
        .select(
            F.col("query_id").alias("a_id"),
            F.col("neighbor_id").alias("b_id"),
            F.round(F.col("cos_sim") * 1_000_000).cast("long").alias("sim_mu"),
        )
        .coalesce(1)
        .localCheckpoint()
    )

    def argmax(df: DataFrame, score_col: str, step: int) -> DataFrame:
        """Deterministic per-query argmax as a struct-MAX aggregate:
        max (score, −cand_id) picks the highest score, ties to the
        LOWEST candidate id — no window, no sort."""
        m = df.groupBy("query_id").agg(
            F.max(
                F.struct(
                    F.col(score_col).alias("s"), (-F.col("cand_id")).alias("ni")
                )
            ).alias("m")
        )
        return m.select(
            "query_id",
            (-F.col("m.ni")).cast("long").alias("sel_id"),
            F.lit(step).cast("int").alias("step"),
            F.col("m.s").alias("score_mu"),
        )

    selected = argmax(
        cand.select("query_id", "cand_id", (7 * F.col("rel_mu")).alias("sc")),
        "sc",
        1,
    )
    for step in range(2, _MMR_SELECT + 1):
        seen = selected.select("query_id", "sel_id")
        rem = cand.join(
            seen,
            (cand.query_id == seen.query_id) & (cand.cand_id == seen.sel_id),
            "left_anti",
        )
        scored = (
            rem.join(seen, "query_id")
            .join(
                simtab,
                (F.least("cand_id", "sel_id") == F.col("a_id"))
                & (F.greatest("cand_id", "sel_id") == F.col("b_id")),
            )
            .groupBy("query_id", "cand_id", "rel_mu")
            .agg(F.max("sim_mu").alias("maxsim_mu"))
            .select(
                "query_id",
                "cand_id",
                (7 * F.col("rel_mu") - 3 * F.col("maxsim_mu")).alias("sc"),
            )
        )
        selected = (
            selected.unionAll(argmax(scored, "sc", step))
            .coalesce(1)
            .localCheckpoint()
        )
    return selected.select(
        "query_id", F.col("sel_id").alias("doc_id"), "step", "score_mu"
    )


# --------------------------------------------------------------------------
# RAG context assembly under a token budget
# --------------------------------------------------------------------------

_CTX_TOPK = 10  # retrieval depth entering assembly
_CTX_BUDGET = 300  # context token budget per query


@register(
    "rag_context_pack",
    oracle=f"""
    WITH qe AS (
      SELECT vec_id AS query_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS qx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
      WHERE vec_id < {_N_QUERIES}
    ), ce AS (
      SELECT vec_id AS cand_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS cx
      FROM embeddings CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) ix
    ), dot AS (
      SELECT query_id, cand_id,
             SUM(CAST(ROUND(qx * cx * 1000000000000.0) AS BIGINT)) AS dot_q,
             SUM(CAST(ROUND(qx * qx * 1000000000000.0) AS BIGINT)) AS qn_q,
             SUM(CAST(ROUND(cx * cx * 1000000000000.0) AS BIGINT)) AS cn_q
      FROM ce JOIN qe USING (pos)
      WHERE query_id <> cand_id
      GROUP BY query_id, cand_id
    ), ranked AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY CAST(dot_q AS DOUBLE)
                     / (SQRT(CAST(qn_q AS DOUBLE)) * SQRT(CAST(cn_q AS DOUBLE))) DESC,
                   cand_id) AS rank
        FROM dot) t
      WHERE rank <= {_CTX_TOPK}
    ), toks AS (
      SELECT doc_id,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
               AS doc_tokens
      FROM documents
    ), cum AS (
      SELECT r.query_id, r.rank, r.cand_id AS doc_id, t.doc_tokens,
             CAST(SUM(t.doc_tokens) OVER (PARTITION BY r.query_id
                  ORDER BY r.rank
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM ranked r JOIN toks t ON t.doc_id = r.cand_id
    )
    SELECT query_id, rank, doc_id, doc_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= {_CTX_BUDGET}
    """,
    tags=("retrieval", "rag", "packing", "llm"),
)
def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: the exact-cosine top-10 per query is packed
    into the prompt in rank order until a 300-token budget exhausts —
    the step between retrieval and generation in every RAG serving
    stack, and the serving-side twin of the training-side
    ``pack_token_stream_chunks``. The cumulative token sum is monotone
    in rank, so ``cum_tokens <= budget`` IS the greedy prefix (no
    stop-flag logic needed), and the whitespace token count is the
    repo's standard integer formula — both sides exact, so the kept
    set, order, and running totals hash-match.

    Scale shape: assembly touches |Q|·10 rows regardless of corpus
    size; the only corpus-scale work is the ranker itself (swap in the
    bucketed ivf/srp paths at 10⁹-doc scale — same (query_id, cand_id,
    rank) contract) and the doc-token join, which Catalyst turns into a
    broadcast of the |Q|·10 candidate keys against the pruned
    (doc_id, 2-column) documents scan."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    ranked = similarity.brute_force_topk(q, e, k=_CTX_TOPK).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    toks = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
        )
        .cast("long")
        .alias("doc_tokens"),
    )
    w = (
        W.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ranked.join(toks, "doc_id")
        .withColumn("cum_tokens", F.sum("doc_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= _CTX_BUDGET)
        .select("query_id", "rank", "doc_id", "doc_tokens", "cum_tokens")
    )


_CW_BUDGET = 256  # context-window token budget per conversation
_CW_OVERHEAD = 4  # per-turn chat-template overhead (role + separators)


@register(
    "llm_context_window_pack",
    oracle=rf"""
    WITH turns AS (
      SELECT source AS conv, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                  + {_CW_OVERHEAD} AS BIGINT) AS toks,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
               AS turn_no
      FROM documents
    ), sys AS (
      SELECT conv, toks AS sys_toks FROM turns WHERE turn_no = 1
    ), tail AS (
      SELECT t.conv, t.doc_id, t.toks, s.sys_toks,
             SUM(t.toks) OVER (PARTITION BY t.conv
                               ORDER BY t.doc_id DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS sufsum
      FROM turns t JOIN sys s ON s.conv = t.conv
      WHERE t.turn_no > 1
    ), tagg AS (
      SELECT conv,
             CAST(COUNT(*) AS BIGINT) AS n_tail,
             CAST(COALESCE(SUM(CASE WHEN sufsum + sys_toks <= {_CW_BUDGET}
                                    THEN toks END), 0) AS BIGINT)
               AS tail_toks,
             CAST(SUM(CASE WHEN sufsum + sys_toks <= {_CW_BUDGET}
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept_tail
      FROM tail GROUP BY conv
    )
    SELECT s.conv,
           COALESCE(t.n_tail, 0) + 1 AS n_turns,
           COALESCE(t.kept_tail, 0) + 1 AS kept_turns,
           COALESCE(t.n_tail, 0) - COALESCE(t.kept_tail, 0)
             AS dropped_turns,
           s.sys_toks,
           s.sys_toks + COALESCE(t.tail_toks, 0) AS packed_toks,
           s.sys_toks + COALESCE(t.tail_toks, 0) > {_CW_BUDGET} AS over_budget,
           ((s.sys_toks + COALESCE(t.tail_toks, 0)) * 1000000) // {_CW_BUDGET}
             AS utilization_e6
    FROM sys s LEFT JOIN tagg t ON t.conv = s.conv
    ORDER BY s.conv
    """,
    tags=("llm", "pipeline", "documents"),
)
def llm_context_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat context-window assembly — the packing step every LLM
    serving/training stack runs per conversation: keep the SYSTEM turn
    (the first turn) unconditionally, then the longest CONTIGUOUS
    SUFFIX of the remaining turns that fits the token budget (recency
    truncation — old turns fall off the front, never the middle).
    Conversations are the document sources, turns ordered by doc_id;
    per-turn cost is the whitespace token count plus a fixed
    chat-template overhead of {_CW_OVERHEAD} (role tag + separators),
    budget {_CW_BUDGET}. Per conversation: turn/kept/dropped census,
    packed token count, an over_budget flag (a system turn alone may
    exceed the budget — it is still kept, and the flag realizes that
    edge in the data), and budget utilization.

    Engine-exactness: token counts are exact BIGINTs from the shared
    split-on-whitespace rule; the suffix feasibility test is a
    partitioned descending cumulative sum; utilization is a
    positive-integer floor division.

    Scale: one pass — everything is windows/aggregates PARTITIONED BY
    conversation (the natural key a 100 TB chat corpus is already
    bucketed by); no global window, no join wider than the
    conversation-grain system-turn broadcast."""
    d = read_table(spark, sf_dir, "documents")
    turns = d.select(
        F.col("source").alias("conv"),
        "doc_id",
        (
            F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            + _CW_OVERHEAD
        )
        .cast("bigint")
        .alias("toks"),
        F.row_number()
        .over(W.partitionBy("source").orderBy("doc_id"))
        .alias("turn_no"),
    )
    sys_t = turns.where(F.col("turn_no") == 1).select(
        "conv", F.col("toks").alias("sys_toks")
    )
    wsuf = (
        W.partitionBy("conv")
        .orderBy(F.col("doc_id").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tail = (
        turns.where(F.col("turn_no") > 1)
        .join(sys_t, "conv")
        .select(
            "conv",
            "doc_id",
            "toks",
            "sys_toks",
            F.sum("toks").over(wsuf).alias("sufsum"),
        )
    )
    fits = F.col("sufsum") + F.col("sys_toks") <= _CW_BUDGET
    tagg = tail.groupBy("conv").agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.coalesce(F.sum(F.when(fits, F.col("toks"))), F.lit(0))
        .cast("bigint")
        .alias("tail_toks"),
        F.sum(fits.cast("long")).cast("bigint").alias("kept_tail"),
    )
    packed = F.col("sys_toks") + F.coalesce(F.col("tail_toks"), F.lit(0))
    return (
        sys_t.join(tagg, "conv", "left")
        .select(
            "conv",
            (F.coalesce(F.col("n_tail"), F.lit(0)) + 1).alias("n_turns"),
            (F.coalesce(F.col("kept_tail"), F.lit(0)) + 1).alias(
                "kept_turns"
            ),
            (
                F.coalesce(F.col("n_tail"), F.lit(0))
                - F.coalesce(F.col("kept_tail"), F.lit(0))
            ).alias("dropped_turns"),
            "sys_toks",
            packed.alias("packed_toks"),
            (packed > _CW_BUDGET).alias("over_budget"),
            F.expr(
                "((sys_toks + coalesce(tail_toks, 0L)) * 1000000L)"
                f" div {_CW_BUDGET}"
            ).alias("utilization_e6"),
        )
        .orderBy("conv")
    )
