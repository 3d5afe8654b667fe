"""Parquet schemas inferred once per file version.

``sources.read_table`` keeps the schema Spark inferred on the first read
of a local file and passes it to later reads of the same file version,
and ``materialize.spill_to_parquet`` reads its spill back with the
schema it just wrote; neither starts a schema-inference job then. These
pins check the job count and that a changed file, a changed parquet
conf or an unusual column type never gets a stale or different schema.
``shipping.skip_unchanged_zip_rereads`` (the Python-worker zip fix) is
checked in pure Python at the end.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from blow_spark import sources


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"schema-reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def own_cache(monkeypatch):
    """An empty, test-local schema cache."""
    monkeypatch.setattr(sources, "_SCHEMAS", {})


def test_second_read_table_starts_no_job(spark, sf_dir, own_cache):
    first, first_jobs = _jobs(spark, lambda: sources.read_table(spark, sf_dir, "orders"))
    second, second_jobs = _jobs(spark, lambda: sources.read_table(spark, sf_dir, "orders"))
    assert first_jobs >= 1  # the inference job the cache saves
    assert second_jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


@pytest.mark.parametrize("writer", ["pyarrow_file", "spark_dir"])
def test_rewritten_table_is_read_with_new_schema(spark, tmp_path, own_cache, writer):
    path = str(tmp_path / "t.parquet")

    def write(table: pa.Table) -> None:
        if writer == "pyarrow_file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).write.mode("overwrite").parquet(path)

    write(pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert sources.read_table(spark, str(tmp_path), "t").columns == ["a"]
    write(pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"], pa.string())}))
    df = sources.read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_events_nanos_type_follows_nanos_as_long(spark, tmp_path, own_cache):
    """A TIMESTAMP(NANOS) ``events.ts``: read_table sets nanosAsLong and
    truncates to µs; the same file's schema under other parquet confs is
    inferred again, never taken from the nanosAsLong entry."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    try:
        df = sources.read_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        micros = [r.us for r in df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()]
        assert micros == [v // 1000 for v in ns]

        path = str(tmp_path / "events.parquet")
        assert isinstance(sources._read_parquet(spark, path).schema["ts"].dataType, T.LongType)
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException):
            sources._read_parquet(spark, path)
        spark.conf.set(key, "true")
        assert isinstance(sources._read_parquet(spark, path).schema["ts"].dataType, T.LongType)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_spill_read_back_schema_equals_inferred(spark):
    from blow_spark.materialize import spill_to_parquet

    df = spark.sql(
        """SELECT id,
                  IF(id % 2 = 0, NULL, id * 1.5) AS maybe,
                  CAST(NULL AS STRING) AS always_null,
                  array(id, id + 1) AS arr,
                  named_struct('k', id, 'tags', array(named_struct('t', CAST(id AS STRING)))) AS nested,
                  map('m', id) AS kv,
                  CAST(CAST(id AS STRING) AS VARCHAR(8)) AS vc
           FROM range(0, 6)"""
    )
    out = spill_to_parquet(df, "blow_spark_schema_reuse_")
    inferred = spark.read.parquet(os.path.dirname(out.inputFiles()[0]))
    assert out.schema == inferred.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, inferred.collect()))


def test_spill_starts_only_the_write_job(spark):
    from blow_spark.materialize import spill_to_parquet

    _, jobs = _jobs(spark, lambda: spill_to_parquet(spark.range(0, 100), "blow_spark_schema_reuse_"))
    assert jobs == 1


def _write_module_zip(path: str, name: str, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_zip_rewrite_is_imported_after_invalidate(tmp_path, monkeypatch):
    import zipimport

    from blow_spark import shipping

    # a process-local install: put the stock method and flag back after
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(shipping, "_ZIP_SKIP_INSTALLED", False)
    name = f"zipmod_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, name, "old")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == "old"

    shipping.skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        # unchanged archive: the directory read above is reused as is
        directory = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is directory

    del sys.modules[name]
    _write_module_zip(archive, name, "rewritten")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importlib.import_module(name).VALUE == "rewritten"
