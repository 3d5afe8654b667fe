"""blow-parity fluent pipeline API.

The reference's entire user surface (README.md:10-60) is:

    maps.GeneratorSource(generator, pool).MapDispatch(fizzmapper)
        .MapLocalParallel(&maps.PrintMapper{}, 10).Sink()

This module reproduces that surface 1:1 on Spark (SURVEY.md §2.1 rows
S1-S3, M1-M4, U1-U2), with the semantic contracts of SURVEY.md §2.3:
flatMap multiplicity 0..N, output order unspecified, completion = action.

Design: a ``Pipeline`` wraps a DataFrame lazily (an upgrade over the
reference's eager goroutine-per-operator start — maps/maps.go:44-47 —
with no observable semantic difference, since results are only observable
at the sink). The opaque-UDF path runs through ``mapInPandas`` (Arrow
batches), the moral equivalent of blow shipping records to remote mappers
(maps/dispatch.go:70-101) except Spark ships the *function* to partitioned
*data*, per-partition instead of per-record.

Fault tolerance: blow retries a failed record on another worker forever
(maps/dispatch.go:81-93). Spark's task retry + lineage recompute subsumes
this (bounded by spark.task.maxFailures); we adopt Spark's exactly-once
task-commit semantics (SURVEY.md §2.3.4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Pipeline:
    """A dataset-in-motion: the analog of blow's ``Source``
    (maps/maps.go:34-37), but lazy, columnar, and replayable."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- sources (S1/S2: Generator / GeneratorSource, maps/maps.go:8-10,39-49)

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "Pipeline":
        return cls(df)

    @classmethod
    def generator_source(
        cls,
        spark: SparkSession,
        rows: Iterable[Any],
        schema: T.StructType | str,
    ) -> "Pipeline":
        """In-memory generator → distributed dataset (the reference's only
        source kind). For unbounded generators use blow_spark.sources
        streaming readers instead."""
        return cls(spark.createDataFrame(rows, schema=schema))

    @classmethod
    def range_source(cls, spark: SparkSession, n: int, partitions: int | None = None) -> "Pipeline":
        """FizzGenerator analog (cmd/fizzbuzz/fizzbuzz.go:11-17): integers
        0..n-1, already partitioned for parallelism."""
        df = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
        return cls(df)

    # -- mapping operators (M1-M3, U1-U2) --------------------------------

    def flat_map(
        self,
        fn: Callable[[Any], Iterable[dict]],
        schema: T.StructType | str,
    ) -> "Pipeline":
        """MapLocal (maps/maps.go:56-68): flatMap-shaped UDF, one record in,
        0..N dict records out. Runs distributed (the reference's
        'sequential' guarantee is an ordering artifact we don't promise —
        SURVEY.md §2.3.2 treats order as unspecified).

        Implemented over mapInPandas so records cross the Python boundary
        in Arrow batches, not one at a time (the reference is strictly
        record-at-a-time — maps/maps.go:62-64)."""
        import pandas as pd

        from blow_spark.shipping import ensure_package_shipped

        ensure_package_shipped(self.df.sparkSession)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from blow_spark.shipping import skip_unchanged_zip_rereads

            skip_unchanged_zip_rereads()
            for pdf in batches:
                out = [o for row in pdf.itertuples(index=False) for o in fn(row)]
                yield pd.DataFrame(out) if out else pd.DataFrame(columns=_field_names(schema))

        return Pipeline(self.df.mapInPandas(run, schema=schema))

    def flat_map_parallel(
        self,
        fn: Callable[[Any], Iterable[dict]],
        schema: T.StructType | str,
        n: int,
        key_col: str | None = None,
    ) -> "Pipeline":
        """MapLocalParallel (maps/maps.go:70-100): hash-routed parallel
        lanes. ``repartition(n, key)`` gives the same contract — records
        with equal keys process in the same task, per-lane order preserved,
        global order lost. Without a key, round-robin repartition."""
        df = self.df.repartition(n, F.col(key_col)) if key_col else self.df.repartition(n)
        return Pipeline(df).flat_map(fn, schema)

    def map_dispatch(
        self,
        fn: Callable[[Any], Iterable[dict]],
        schema: T.StructType | str,
    ) -> "Pipeline":
        """MapDispatch (maps/dispatch.go:70-101): the distributed flatMap.
        blow ships each record over a WebSocket to a pooled worker with
        key affinity and infinite retry; Spark ships ``fn`` (cloudpickle)
        to every partition and recomputes failed tasks from lineage —
        per-partition scheduling beats per-record by O(records/partitions)
        (BASELINE.md §A last row). Functionally identical surface."""
        return self.flat_map(fn, schema)

    def map_pandas(
        self,
        fn: Callable[["object"], "object"],
        schema: T.StructType | str,
    ) -> "Pipeline":
        """Vectorized escape hatch: fn(pandas.DataFrame) -> pandas.DataFrame
        per Arrow batch — for numeric UDFs that vectorize."""
        from blow_spark.shipping import ensure_package_shipped

        ensure_package_shipped(self.df.sparkSession)

        def run(batches):
            from blow_spark.shipping import skip_unchanged_zip_rereads

            skip_unchanged_zip_rereads()
            for pdf in batches:
                yield fn(pdf)

        return Pipeline(self.df.mapInPandas(run, schema=schema))

    def print_each(self, n: int = 20) -> "Pipeline":
        """PrintMapper (maps/maps.go:23-32): identity with print side
        effect. Spark-side this is observation, not a pass-through print —
        we show a bounded sample (unbounded driver printing is an
        anti-pattern) and return the pipeline unchanged."""
        self.df.show(n, truncate=False)
        return self

    def observe(self, name: str, *exprs) -> "Pipeline":
        """Metric-collecting identity (the scalable PrintMapper): named
        aggregates are collected during the action with zero extra passes."""
        return Pipeline(self.df.observe(name, *exprs))

    # -- relational pass-throughs (the capabilities blow lacks) ----------

    def select(self, *cols) -> "Pipeline":
        return Pipeline(self.df.select(*cols))

    def filter(self, cond) -> "Pipeline":
        return Pipeline(self.df.filter(cond))

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        return Pipeline(self.df.transform(fn))

    # -- sinks (S3: Sink, maps/maps.go:51-54) -----------------------------

    def sink(self) -> int:
        """Drain-and-discard terminal (blocks to completion, like the
        reference's ``for range s.channel {}``). Returns the row count."""
        return self.df.count()

    def sink_parquet(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).parquet(path)

    def collect(self):
        return self.df.collect()


def _field_names(schema: T.StructType | str) -> list[str]:
    if isinstance(schema, str):
        return [part.strip().split()[0] for part in schema.split(",")]
    return [f.name for f in schema.fields]


# --------------------------------------------------------------------------
# The reference's demo workload, both ways
# --------------------------------------------------------------------------


def fizz_mapper(row) -> Iterable[dict]:
    """FizzMapper.Do (cmd/fizzbuzz/fizzbuzz.go:21-46) minus the simulated
    250 ms sleep: classify an integer, emit exactly one record."""
    v = row.id
    if v % 15 == 0:
        word = "fizzbuzz"
    elif v % 3 == 0:
        word = "fizz"
    elif v % 5 == 0:
        word = "buzz"
    else:
        word = str(v)
    yield {"number": v, "word": word}


def fizzbuzz_pipeline(spark: SparkSession, n: int = 10_000) -> Pipeline:
    """The reference demo (cmd/fizzbuzz/server/server.go:60) re-expressed:
    GeneratorSource → MapDispatch(fizzmapper) → (sink by caller)."""
    return Pipeline.range_source(spark, n).map_dispatch(
        fizz_mapper, "number long, word string"
    )


def fizzbuzz_native(spark: SparkSession, n: int = 10_000) -> DataFrame:
    """Same computation, pure Catalyst (zero Python): the form the engine
    prefers — whole-stage codegen, ~100× less per-row overhead."""
    k = F.col("id")
    word = (
        F.when(k % 15 == 0, F.lit("fizzbuzz"))
        .when(k % 3 == 0, F.lit("fizz"))
        .when(k % 5 == 0, F.lit("buzz"))
        .otherwise(k.cast("string"))
    )
    return spark.range(0, n).select(k.alias("number"), word.alias("word"))
