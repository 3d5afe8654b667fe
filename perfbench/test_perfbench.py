"""Tests of the benchmark itself; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, covered, layer_metrics, self_time  # noqa: E402

END_TO_END = ["setup_s", "wall_s", "query_p50_s", "query_p90_s", "records_per_s", "peak_rss_mb"]


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_stable():
    spec = _benchmark_json()
    assert [m["name"] for m in spec["end_to_end"]] == END_TO_END == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    layers = {name.split(".")[0] for name in run.PER_LAYER if "." in name}
    assert layers == {"session", "queries", "materialize", "dedup", "similarity", "ops", "pipeline", "sources", "trace"}
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup_bound <= 0.25 for m in spec["end_to_end"])


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert not run.tail_supported(99)
    assert run.tail_supported(100)
    assert run.tail_supported(40, 0.75)
    assert not run.tail_supported(39, 0.75)


def test_quantile_weighs_every_order_statistic():
    assert run.quantile([float(x) for x in range(11)], 0.5) == pytest.approx(5.0, abs=1e-3)
    assert run.quantile([1.0, 2.0], 0.5) == pytest.approx(1.5, abs=1e-3)
    assert 9.0 < run.quantile([float(x) for x in range(11)], 0.9) < 9.5
    assert run.quantile([3.0] * 7, 0.9) == pytest.approx(3.0)
    assert run.quantile([2.5], 0.9) == 2.5
    # one sample crossing from the slower operation to the faster one
    # moves the sample median by the whole gap, this estimate by a fraction
    before, after = [1.0] * 7 + [2.0] * 8, [1.0] * 8 + [2.0] * 7
    assert run.quantile(before, 0.5) - run.quantile(after, 0.5) < 0.4


def test_self_time_subtracts_the_union_of_children():
    parent = Span("q", "queries", 0.0, 10.0, None, "r")
    children = [
        Span("a", "dedup", 1.0, 3.0, 0, "r"),
        Span("b", "materialize", 2.0, 5.0, 0, "r"),  # overlaps a
        Span("c", "ops", 8.0, 12.0, 0, "r"),  # runs past the parent's end
    ]
    assert covered(0.0, 10.0, [(c.start, c.end) for c in children]) == 6.0
    assert self_time(parent, children) == 4.0


def test_nested_spans_give_non_negative_self_times():
    tracer = Tracer("r")
    with tracer.span("pass-1", "pass"):
        with tracer.span("q", "queries"):
            with tracer.span("build", "queries"):
                with tracer.span("ops.pagerank", "ops"):
                    with tracer.span("materialize.checkpoint_small", "materialize"):
                        pass
            with tracer.span("action", "queries"):
                pass
    kids = tracer.children()
    assert [s.parent for s in tracer.spans] == [None, 0, 1, 2, 3, 1]
    assert all(tracer.self_time(i, kids) >= 0.0 for i in range(len(tracer.spans)))
    total = tracer.spans[1].duration
    parts = sum(tracer.self_time(i, kids) for i in tracer.descendants(1, kids)) + tracer.self_time(1, kids)
    assert parts == pytest.approx(total)


def test_layer_metrics_attribute_jobs_to_the_innermost_layer_span():
    tracer = Tracer("r")
    counters = {k: 0 for k in ("jobs", "stages", "tasks", "tasks_failed")}
    counters |= {k: 0.0 for k in ("executor_run_s", "executor_cpu_s", "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
    tracer.spans = [
        Span("pass-1", "pass", 0.0, 10.0, None, "r"),
        Span("graph_pagerank_bipartite", "queries", 0.0, 10.0, 0, "r"),
        Span("build", "queries", 0.0, 6.0, 1, "r", dict(counters, jobs=2, job_intervals=[(1.5, 2.0), (4.0, 5.0)])),
        Span("action", "queries", 6.0, 10.0, 1, "r", dict(counters, jobs=1, job_intervals=[(6.5, 9.5)], executor_run_s=8.0)),
        Span("ops.pagerank", "ops", 1.0, 5.5, 2, "r"),
        Span("materialize.checkpoint_small", "materialize", 1.2, 2.5, 4, "r"),
    ]
    m = layer_metrics(tracer, 0, 4)
    assert set(m) <= set(run.PER_LAYER)
    assert m["materialize.calls"] == 1 and m["materialize.jobs"] == 1
    assert m["materialize.s"] == pytest.approx(1.3)
    assert m["ops.calls"] == 1 and m["ops.self_s"] == pytest.approx(4.5 - 1.3)
    assert m["queries.build_jobs"] == 2 and m["queries.action_jobs"] == 1
    assert m["queries.driver_gap_s"] == pytest.approx(10.0 - 0.5 - 1.0 - 3.0)
    assert m["queries.busy_ratio"] == pytest.approx(8.0 / (10.0 * 4))


def test_layer_metrics_of_a_pipeline_pass():
    tracer = Tracer("r")
    counters = {k: 0 for k in ("jobs", "stages", "tasks", "tasks_failed")}
    counters |= {k: 0.0 for k in ("input_mb", "shuffle_read_mb", "spill_mb")}
    run_cpu = dict(executor_run_s=3.0, executor_cpu_s=1.0, shuffle_write_mb=2.0, output_mb=0.5, job_intervals=[])
    tracer.spans = [
        Span("pass-1", "pass", 0.0, 4.0, None, "r"),
        Span("chain_count", "pipeline", 0.0, 2.0, 0, "r"),
        Span("build", "pipeline", 0.0, 0.1, 1, "r", dict(counters, **run_cpu)),
        Span("action", "pipeline", 0.1, 2.0, 1, "r", dict(counters, **run_cpu)),
        Span("chain_parquet", "pipeline", 2.0, 4.0, 0, "r"),
        Span("build", "pipeline", 2.0, 2.2, 4, "r", dict(counters, **run_cpu)),
        Span("action", "sources", 2.2, 4.0, 4, "r", dict(counters, **run_cpu)),
    ]
    m = layer_metrics(tracer, 0, 4)
    assert set(m) <= set(run.PER_LAYER)
    assert m["pipeline.build_s"] == pytest.approx(0.3)
    assert m["pipeline.sink_s"] == pytest.approx(1.9)
    assert m["sources.write_s"] == pytest.approx(1.8)
    assert m["sources.output_mb"] == 0.5
    assert m["pipeline.executor_offcpu_s"] == pytest.approx(4 * 2.0)
    assert m["pipeline.shuffle_write_mb"] == 8.0
    assert "queries.build_s" not in m


class _Op:
    layer = "queries"
    records = 10

    def __init__(self, name, fail_build=False, wrong=False):
        self.name, self.fail_build, self.wrong = name, fail_build, wrong

    def build(self, spark):
        if self.fail_build:
            raise RuntimeError("deliberate failure")
        return self.name

    def act(self, built, collect):
        return built

    def verify(self, out):
        return "value mismatch" if self.wrong else None


def test_failing_and_wrong_operations_count_in_error_rate():
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    session = SimpleNamespace(spark=spark, start=lambda: None, restart=lambda: None, probe_s=lambda: 0.05)
    ops = [_Op("ok"), _Op("raises", fail_build=True), _Op("wrong", wrong=True)]
    bench = run.Bench(session, ops, seed=1, cores=4)
    bench.setup()
    bench.check_pass()
    bench.timed_passes(0.0, trace=False)
    assert len(bench.setups) == run.SETUPS and bench.cold_setup is not None
    passes = run.MIN_PASSES
    assert bench.tally.attempted == 1 + run.SETUPS + 2 + 3 * passes
    assert bench.tally.failed == 2 + 2 * passes
    assert bench.tally.error_rate == pytest.approx((2 + 2 * passes) / (1 + run.SETUPS + 2 + 3 * passes))
    assert all(name.startswith(("raises", "wrong")) for name in bench.tally.failures)
    assert [[s.op.name for s in p.samples] for p in bench.passes] == [["ok"]] * passes
    assert len(bench.passes[0].probes) == run.PROBES_PER_OP * len(ops)


def test_a_pass_without_a_successful_operation_ends_the_timed_passes():
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    session = SimpleNamespace(spark=spark, probe_s=lambda: 0.05)
    bench = run.Bench(session, [_Op("raises", fail_build=True)], seed=1, cores=4)
    bench.timed_passes(10.0, trace=False)
    assert len(bench.passes) == 1 and bench.tally.failed == 1


def test_pass_order_follows_the_seed():
    bench = run.Bench(None, list(range(8)), seed=7, cores=4)
    assert bench.order(0) == run.Bench(None, list(range(8)), seed=7, cores=4).order(0)
    assert sorted(bench.order(0)) == list(range(8))
    assert any(bench.order(p) != bench.order(0) for p in range(1, 5))


def test_dispatch_mapper_matches_the_predicted_fan_out():
    dispatch, lane = workloads._mappers(seed=5)
    ids = np.arange(2000, dtype=np.int64)
    emitted = [r for i in ids for r in dispatch(SimpleNamespace(id=i))]
    assert len(emitted) == workloads.fan_out(ids, 5).sum()
    assert set(workloads.fan_out(ids, 5)) == {0, 1, 2, 3}
    assert all(len(list(lane(SimpleNamespace(**r)))) == 1 for r in emitted[:50])


def test_times_are_scaled_per_pass_and_setup_is_not():
    op = SimpleNamespace(records=100)
    ref = run.PROBE_REF_S
    bench = run.Bench(None, [op], seed=1, cores=4)
    bench.setups = [(1.0, 2.0), (1.0, 4.0)]
    bench.passes = [
        run.Pass(False, [run.Sample(op, 0.0, 1.0, 1.0)], [ref, ref]),  # reference speed
        run.Pass(False, [run.Sample(op, 0.0, 2.0, 2.0)], [2 * ref, 2 * ref, 3 * ref]),  # twice as slow
        run.Pass(True, [run.Sample(op, 0.0, 3.0, 3.0)], [3 * ref]),
    ]
    e2e = bench.end_to_end(peak_rss_mb=500.0)
    assert e2e["setup_s"] == pytest.approx(4.0)
    assert e2e["wall_s"] == e2e["query_p50_s"] == pytest.approx(2.0)
    assert e2e["records_per_s"] == pytest.approx(200 / 4.0)
    assert e2e["peak_rss_mb"] == 500.0
    measured = bench.end_to_end(peak_rss_mb=500.0, scaled=False)
    assert measured["wall_s"] == pytest.approx(3.0) and measured["setup_s"] == pytest.approx(4.0)
    assert bench.median_wall(True) == pytest.approx(2.0)


class _Conf:
    """The part of Spark's RuntimeConfig the probe uses."""

    def __init__(self, values, static=()):
        self.values, self.static = dict(values), set(static)

    @property
    def getAll(self):
        return dict(self.values)

    def isModifiable(self, key):
        return key not in self.static

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


def test_probe_runs_under_fixed_sql_conf_and_restores_the_session_conf():
    before = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.warehouse.dir": "/w",
        "spark.app.name": "perfbench",
    }
    conf = _Conf(before, static={"spark.sql.warehouse.dir"})
    with run.fixed_sql_conf(conf, {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "true"}):
        assert conf.values == {
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.warehouse.dir": "/w",
            "spark.app.name": "perfbench",
        }
    assert conf.values == before


def test_fixtures_hold_every_table_the_operations_read():
    rows = workloads.count_rows(workloads.FIXTURES)
    assert rows["lineitem"] > 50_000 and rows["documents"] > 0 and rows["embeddings"] > 0
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"
    }
