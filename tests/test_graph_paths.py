"""The graph loops' two paths behind one contract.

At or below ``ops.LOCAL_EDGE_CUTOFF`` edges, pagerank, kcore and
bfs_distances/bellman_ford (``ops._min_relax``) compute their fixpoint in
one task; above it they run one distributed superstep per round. No
catalog query at the test scale factors reaches the distributed loops,
so these tests force it by patching ``ops.LOCAL_EDGE_CUTOFF`` to 0 (or
-1 for an empty graph) for one call and check both paths give the same
rows on the catalog's own edge sets and on the edge cases. The job-count pins bound the four
graph rows and dedup_exact_substring's one-task path; the leak tests check that an operator raising mid-run
leaves no cache behind on either path.
"""

from __future__ import annotations

import functools
import os

import pytest

from blow_spark import materialize, ops
from blow_spark.queries import queries
from blow_spark.session import count_jobs

ALL_QUERIES = queries()

#: (catalog row, the ops function it calls)
GRAPH_ROWS = [
    ("graph_pagerank_bipartite", "pagerank"),
    ("graph_kcore_decomposition", "kcore"),
    ("graph_bfs_hops", "bfs_distances"),
    ("graph_cheapest_path_bounded", "bellman_ford"),
]


def _distributed(fn, *args, cutoff=0, **kwargs):
    """``fn(*args, **kwargs)`` with ``ops.LOCAL_EDGE_CUTOFF`` patched to
    ``cutoff`` for this call only (0 forces the distributed loop on any
    non-empty graph, -1 even on an empty one)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ops, "LOCAL_EDGE_CUTOFF", cutoff)
        return fn(*args, **kwargs)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _one_task_calls(monkeypatch) -> list:
    """Record every local-path task the graph operators build."""
    calls = []
    real = ops._in_one_task

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(ops, "_in_one_task", spy)
    return calls


def _catalog_args(spark, sf_dir, monkeypatch, query, op):
    """The arguments ``query`` passes to ``ops.<op>`` (its edge set)."""
    seen = []
    real = getattr(ops, op)

    def spy(*args, **kwargs):
        seen.append((args, kwargs))
        return real(*args, **kwargs)

    monkeypatch.setattr(ops, op, spy)
    ALL_QUERIES[query](spark, sf_dir)
    monkeypatch.setattr(ops, op, real)
    assert len(seen) == 1, seen
    return seen[0]


@pytest.mark.parametrize("query,op", GRAPH_ROWS)
def test_paths_agree_on_catalog_edges(spark, sf_dir, monkeypatch, query, op):
    args, kwargs = _catalog_args(spark, sf_dir, monkeypatch, query, op)
    fn = getattr(ops, op)
    tasks = _one_task_calls(monkeypatch)
    local = fn(*args, **kwargs)
    assert len(tasks) == 1, "the catalog edge set should take the local path"
    dist = _distributed(fn, *args, **kwargs)
    assert len(tasks) == 1, "a cutoff of 0 should force the distributed loop"
    assert local.schema == dist.schema
    a, b = _rows(local), _rows(dist)
    assert a, f"{query}: empty result proves nothing"
    if op == "pagerank":
        assert [r[0] for r in a] == [r[0] for r in b]
        assert [round(r[1], 6) for r in a] == [round(r[1], 6) for r in b]
    else:
        assert a == b
    if op == "kcore":
        assert local.kcore_info == dist.kcore_info


def _both(fn, *args, **kwargs):
    """(local rows, distributed rows); -1 forces even an empty graph
    onto the distributed loop."""
    local, dist = fn(*args, **kwargs), _distributed(fn, *args, cutoff=-1, **kwargs)
    assert local.schema == dist.schema
    return local, dist


def test_empty_edge_table(spark):
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    weighted = spark.createDataFrame([], "src bigint, dst bigint, w bigint")
    pairs = spark.createDataFrame([], "u bigint, v bigint")
    sources = spark.createDataFrame([(7,)], "node bigint")
    for local, dist in [_both(ops.pagerank, edges), _both(ops.kcore, pairs, 3)]:
        assert _rows(local) == _rows(dist) == []
    assert local.kcore_info == dist.kcore_info == {"rounds": 1, "n_nodes_in": 0, "n_nodes_out": 0}
    for local, dist in [
        _both(ops.bfs_distances, edges, sources),
        _both(ops.bellman_ford, weighted, sources),
    ]:
        assert _rows(local) == _rows(dist) == [(7, 0)]


def _pagerank_reference(edges, iterations, damping):
    """Plain-Python power iteration with the operator's contract."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iterations):
        inflow = dict.fromkeys(nodes, 0.0)
        for s, d in edges:
            inflow[d] += rank[s] / outdeg[s]
        rank = {n: (1.0 - damping) / len(nodes) + damping * inflow[n] for n in nodes}
    return rank


def test_pagerank_dangling_nodes(spark):
    """A sink (no out-edges: its mass is dropped) and a source (no
    in-edges: base rank only) rank the same on both paths and as in a
    plain-Python power iteration; duplicate edges count once."""
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (5, 1), (5, 4), (2, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    want = _pagerank_reference(sorted(set(edges)), 4, 0.85)
    local, dist = _both(ops.pagerank, df, iterations=4)
    for got in (local, dist):
        ranks = dict(_rows(got))
        assert ranks.keys() == want.keys()
        assert all(abs(ranks[n] - want[n]) < 1e-12 for n in want), (ranks, want)


def test_kcore_core_empties(spark):
    """A path peels from both ends to nothing: rounds counts the peel
    rounds plus the round that sees no change."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "u bigint, v bigint")
    local, dist = _both(ops.kcore, pairs, 2)
    assert _rows(local) == _rows(dist) == []
    assert local.kcore_info == dist.kcore_info == {"rounds": 4, "n_nodes_in": 5, "n_nodes_out": 0}


def test_kcore_raises_without_convergence_on_both_paths(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "u bigint, v bigint")
    for run in (ops.kcore, functools.partial(_distributed, ops.kcore)):
        with pytest.raises(RuntimeError, match="did not converge within 2 rounds"):
            run(pairs, 2, max_iter=2)


def test_relax_null_ids_and_weights(spark):
    """Null semantics of the relax round's SQL: a null src joins nothing,
    a null dst is a node of its own, and a node whose candidates all
    carry a null weight is reached with a null cost."""
    edges = spark.createDataFrame(
        [("s", "a", 5), ("a", "b", None), ("s", None, 2), (None, "c", 1), ("a", "d", 1)],
        "src string, dst string, w bigint",
    )
    sources = spark.createDataFrame([("s",)], "node string")
    local, dist = _both(ops.bellman_ford, edges, sources, rounds=3)
    assert _rows(local) == _rows(dist)
    assert dict(_rows(local)) == {"s": 0, "a": 5, "b": None, None: 2, "d": 6}


def test_kcore_empty_core_at_sf01_keeps_its_record(spark, sf_dir):
    """At sf0.1 the 3-core of the part graph is empty; the local path
    must still report the run's record."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip("no sf0.1 fixtures next to the test scale factor")
    df = ALL_QUERIES["graph_kcore_decomposition"](spark, sf01)
    assert df.collect() == []
    assert df.kcore_info == {"rounds": 3, "n_nodes_in": 5922, "n_nodes_out": 0}


#: Upper bounds on the jobs one build + collect of each graph row, and of
#: dedup_exact_substring (the other row that finishes a small input in
#: one task), starts at sf0.001 with the table schemas already cached.
#: The distributed loops ran 27, 74, 17 and 17; the distributed
#: exact-substring plan 11 (now its size probe + the one task).
GRAPH_ROW_JOBS = {
    "graph_pagerank_bipartite": 10,
    "graph_kcore_decomposition": 33,
    "graph_bfs_hops": 9,
    "graph_cheapest_path_bounded": 9,
    "dedup_exact_substring": 2,
}


@pytest.mark.parametrize("query", sorted(GRAPH_ROW_JOBS))
def test_graph_row_job_pins(spark, sf_dir, query):
    from blow_spark.sources import read_table

    for table in ("orders", "lineitem", "documents"):
        read_table(spark, sf_dir, table)
    _, jobs = count_jobs(spark, lambda: ALL_QUERIES[query](spark, sf_dir).collect())
    assert jobs <= GRAPH_ROW_JOBS[query], f"{query}: {jobs} jobs"


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("cutoff", [ops.LOCAL_EDGE_CUTOFF, 0], ids=["local", "distributed"])
def test_pagerank_raising_mid_run_leaves_no_cache(spark, monkeypatch, cutoff):
    """The first rank cut raises after the edge cache (and, on the
    distributed path, the node and contribution caches) are filled:
    every one of them is released anyway."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint")

    def boom(df):
        raise RuntimeError("cut failed")

    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(materialize, "checkpoint_sublinear", boom)
    monkeypatch.setattr(ops, "LOCAL_EDGE_CUTOFF", cutoff)
    with pytest.raises(RuntimeError, match="cut failed"):
        ops.pagerank(edges)
    assert _persistent_rdd_ids(spark) <= before
