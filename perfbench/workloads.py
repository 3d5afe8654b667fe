"""The benchmark's workloads: what each operation builds, runs and checks.

An operation has three steps. ``build`` constructs the lazy result and
runs whatever jobs the program starts eagerly while doing so (spills,
checkpoints, parameter collects). ``act`` runs the action: the no-op
sink in a timed pass, a collect when ``collect`` is set. ``verify``
checks an output outside the timed region and returns a description of
what is wrong, or ``None``.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np

#: Sub-2 s relational rows. Each runs 2-15 Spark jobs on little data, so
#: driver planning and per-job scheduling dominate their latency; the
#: materialize layer and the Python workers do almost no work here.
SHORT_QUERIES = (
    "topk_per_group",
    "tpch_q3_shipping_priority",
    "agg_pricing_summary",
    "join_asof",
    "sort_equidepth_global_rank",
)

#: Operator rows where materialize, dedup, similarity and the iterative
#: ops loops do their work: an exact-substring dedup, a brute-force
#: cosine top-k scorer (little builder time) and a PageRank loop (mostly
#: builder time: eager spills and checkpoints per superstep).
HEAVY_OPERATORS = (
    "dedup_exact_substring",
    "similarity_topk_bruteforce",
    "graph_pagerank_bipartite",
)

class _Collected:
    """Hands an already collected frame to ``oracle.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class CatalogQuery:
    """One catalog row, checked against its DuckDB twin."""

    layer = action_layer = "queries"

    def __init__(self, name: str, data_dir: str, table_rows: dict[str, int]):
        from blow_spark.queries import REGISTRY, _load
        from blow_spark.sources import TPCH_TABLES

        _load()
        self.name = name
        self.data_dir = data_dir
        self._query = REGISTRY[name]
        scanned = set(re.findall(r"\b(" + "|".join(TPCH_TABLES) + r")\b", self._query.oracle))
        #: input records one execution reads: the rows of every table its twin scans
        self.records = sum(table_rows[t] for t in scanned)

    def build(self, spark):
        return self._query.builder(spark, self.data_dir)

    def act(self, df, collect: bool):
        if collect:
            return df.toPandas()
        df.write.mode("overwrite").format("noop").save()
        return None

    def verify(self, pdf) -> str | None:
        if pdf is None:
            return None
        from blow_spark.oracle import compare, duckdb_run

        result = compare(self.name, _Collected(pdf), duckdb_run(self._query.oracle, self.data_dir))
        return None if result.ok else result.detail


# -- flatmap_pipeline -------------------------------------------------------

_MASK = (1 << 64) - 1
_C1, _C2 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9
N_KEYS = 1024


def fan_out(ids: np.ndarray, seed: int) -> np.ndarray:
    """Records the dispatch mapper emits per input id (0..3); the
    mapper computes the same hash per row in Python."""
    h = ids.astype(np.uint64) * np.uint64(_C1) + np.uint64((seed * _C2) & _MASK)
    return ((h ^ (h >> np.uint64(29))) % np.uint64(4)).astype(np.int64)


def _mappers(seed: int):
    """Closures, so cloudpickle ships them by value: the executors'
    Python workers cannot import this file."""
    salt = (seed * _C2) & _MASK

    def dispatch(row):
        i = int(row.id)
        h = (i * _C1 + salt) & _MASK
        for j in range((h ^ (h >> 29)) % 4):
            yield {"k": (i * 7 + j) % N_KEYS, "v": i * 4 + j}

    def lane(row):
        yield {"k": int(row.k), "w": int(row.v) * 3 + int(row.k)}

    return dispatch, lane


class FlatmapChain:
    """``range_source(n)`` → ``map_dispatch`` (seeded 0..3 fan-out) →
    ``flat_map_parallel(lanes, key_col="k")``, drained by ``sink()`` or,
    when ``out_dir`` is set, by ``sink_parquet(out_dir)``."""

    layer = "pipeline"

    def __init__(self, n: int, seed: int, lanes: int, out_dir: str | None = None):
        self.name = "chain_parquet" if out_dir else "chain_count"
        #: the parquet sink is the sources layer's writer
        self.action_layer = "sources" if out_dir else "pipeline"
        self.n, self.lanes, self.out_dir = n, lanes, out_dir
        self.records = n
        self.expected = int(fan_out(np.arange(n, dtype=np.int64), seed).sum())
        self._dispatch, self._lane = _mappers(seed)

    def build(self, spark):
        from blow_spark.pipeline import Pipeline

        return (
            Pipeline.range_source(spark, self.n)
            .map_dispatch(self._dispatch, "k long, v long")
            .flat_map_parallel(self._lane, "k long, w long", n=self.lanes, key_col="k")
        )

    def act(self, pipeline, collect: bool):
        if self.out_dir is None:
            return pipeline.sink()
        pipeline.sink_parquet(self.out_dir)
        return self.out_dir

    def verify(self, out) -> str | None:
        if self.out_dir is None:
            rows = out
        else:
            import pyarrow.parquet as pq

            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(out, "*.parquet")))
        return None if rows == self.expected else f"{rows} rows, seed predicts {self.expected}"


WORKLOADS = ("short_queries", "heavy_operators")

#: The tables the catalog rows read: a copy of the repository's read-only
#: sf 0.01 fixtures (seed 42; 60k lineitem rows, 500 documents, 500
#: embeddings). Every run reads the same tables; the seed changes only the
#: order of the operations and the flatmap chain's fan-out.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

#: Input records of one flatmap chain run.
PIPELINE_RECORDS = 30_000


def count_rows(data_dir: str) -> dict[str, int]:
    """Row count of every ``<table>.parquet`` in ``data_dir``, from the footers."""
    import pyarrow.parquet as pq

    return {
        os.path.basename(path)[: -len(".parquet")]: pq.ParquetFile(path).metadata.num_rows
        for path in glob.glob(os.path.join(data_dir, "*.parquet"))
    }


def operations(workload: str, seed: int, cores: int, out_dir: str, data_dir: str = FIXTURES):
    """The workload's operations; the first is also the set-up warm-up."""
    rows = count_rows(data_dir)
    if workload == "short_queries":
        return [CatalogQuery(name, data_dir, rows) for name in SHORT_QUERIES]
    n = PIPELINE_RECORDS
    return [
        FlatmapChain(n, seed, cores),
        FlatmapChain(n, seed, cores, os.path.join(out_dir, "chain.parquet")),
        *(CatalogQuery(name, data_dir, rows) for name in HEAVY_OPERATORS),
    ]
