"""spill_to_parquet + scratch-path lifecycle pins (round-10 verdict
item #6; round-11 verdict items #1 and #2).

The temp paths an operator creates must not accumulate for the process
lifetime: the LRU bounds keep at most _MAX_LIVE_SPILLS spill dirs and
_MAX_LIVE_SCRATCH scratch paths live, eviction deletes the OLDEST path
from disk, and the atexit sweep removes the remainder — so two
consecutive full-catalog runs leave the tempdir population flat.

Round-11 lesson (the order-dependence bug this file shipped): the LRU
bound is GLOBAL over a module-level registry shared by every test in
the process, so a per-prefix dir-count assertion is only meaningful
against an ISOLATED registry — the ``own_registry`` fixture snapshots
and drains the shared state (without touching foreign dirs on disk)
and restores it afterwards. Stale same-prefix dirs from PRIOR crashed
processes are reaped up front for the same reason.

The last three tests pin the storage policy in the materialize module
docstring: no lineage cut outside it, no session cache left behind by
the graph edge-list queries, and a lost block survived or named.
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections import OrderedDict

import pytest

from blow_spark import materialize as M


@pytest.fixture
def own_registry():
    """Isolate the module-level registries: foreign entries (other
    tests' live spill/scratch paths) are parked — NOT deleted from
    disk — so this test's per-prefix assertions see only its own
    paths; on exit, paths the test created are deleted and the
    foreign entries restored in their original LRU order."""
    saved_spills = OrderedDict(M._live_spills)
    saved_scratch = OrderedDict(M._live_scratch)
    M._live_spills.clear()
    M._live_scratch.clear()
    try:
        yield
    finally:
        while M._live_spills:
            path, _ = M._live_spills.popitem(last=False)
            M._remove_dir(path)
        while M._live_scratch:
            path, _ = M._live_scratch.popitem(last=False)
            M._remove_path(path)
        M._live_spills.update(saved_spills)
        M._live_scratch.update(saved_scratch)


def _reap_stale(prefix: str) -> None:
    """Delete leftover dirs from prior (crashed) processes so glob
    counts measure THIS process's behavior."""
    for p in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        M._remove_path(p)


def test_spill_lru_bound_and_eviction(spark, own_registry):
    base = spark.range(3).toDF("x")
    _reap_stale("blow_spark_lru_test_")
    first_paths = []
    # push well past the bound with tiny spills
    for i in range(8):
        old_bound = M._MAX_LIVE_SPILLS
        try:
            M._MAX_LIVE_SPILLS = 5
            df = M.spill_to_parquet(base, prefix="blow_spark_lru_test_")
            assert df.count() == 3
            if i == 0:
                # capture the first dir: it must be evicted later
                first_paths = list(M._live_spills)
        finally:
            M._MAX_LIVE_SPILLS = old_bound
    # bound held while the small bound was in force
    assert M.live_spill_count() == 5
    # the first spill dir was evicted AND removed from disk
    for p in first_paths:
        assert p not in M._live_spills
        assert not os.path.exists(p)
    # surviving registered dirs really exist
    for p in M._live_spills:
        assert os.path.isdir(p)


def test_spill_sweep_all_clears_disk(spark, own_registry):
    base = spark.range(2).toDF("x")
    M.spill_to_parquet(base, prefix="blow_spark_sweep_test_")
    paths = list(M._live_spills)
    assert paths and all(os.path.isdir(p) for p in paths)
    M._sweep_all()
    assert M.live_spill_count() == 0
    assert all(not os.path.exists(p) for p in paths)


def test_tempdir_population_flat_across_repeated_use(spark, own_registry):
    """Two identical 'runs' leave the same number of spill dirs in the
    OS tempdir (the round-10 'two consecutive full-catalog runs' pin,
    scaled down: the property is the bound, not the catalog)."""
    base = spark.range(4).toDF("x")
    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_flat_test_")

    def run(n):
        old = M._MAX_LIVE_SPILLS
        try:
            M._MAX_LIVE_SPILLS = 6
            for _ in range(n):
                M.spill_to_parquet(base, prefix="blow_spark_flat_test_")
        finally:
            M._MAX_LIVE_SPILLS = old
        return len(glob.glob(os.path.join(tmp, "blow_spark_flat_test_*")))

    after_first = run(10)
    after_second = run(10)
    assert after_first == after_second == 6
    assert M.live_spill_count() == 6


# --------------------------------------------------------------------------
# scratch-path lifecycle (round-11 verdict item #2)
# --------------------------------------------------------------------------


def test_scratch_dir_lru_bound_and_sweep(own_registry):
    _reap_stale("blow_spark_scr_test_")
    old = M._MAX_LIVE_SCRATCH
    try:
        M._MAX_LIVE_SCRATCH = 4
        paths = [M.scratch_dir(prefix="blow_spark_scr_test_") for _ in range(9)]
    finally:
        M._MAX_LIVE_SCRATCH = old
    # bound held: only the 4 newest survive, on disk and in-registry
    assert M.live_scratch_count() == 4
    assert list(M._live_scratch) == paths[-4:]
    for p in paths[:-4]:
        assert not os.path.exists(p)
    for p in paths[-4:]:
        assert os.path.isdir(p)
    # sweep removes the rest
    M._sweep_all()
    assert M.live_scratch_count() == 0
    assert all(not os.path.exists(p) for p in paths)


def test_register_scratch_handles_files_and_refreshes_lru(own_registry):
    d = M.scratch_dir(prefix="blow_spark_scrf_test_")
    fpath = os.path.join(d, "artifact.bin")
    with open(fpath, "wb") as fh:
        fh.write(b"x")
    M.register_scratch(fpath)
    # re-registering an existing path must refresh, not duplicate
    M.register_scratch(d)
    assert list(M._live_scratch) == [fpath, d]
    M._sweep_all()
    assert not os.path.exists(fpath) and not os.path.exists(d)


def test_query_scratch_dirs_are_registered(spark, sf_dir, own_registry):
    """The sink/stream mkdtemp sites route through scratch_dir: running
    a sink-roundtrip query twice leaves the SAME tempdir population
    (every dir it makes is in the registry, so the LRU/atexit lifecycle
    owns it — the round-11 'two full-suite runs stay flat' pin, scaled
    to one representative query per family)."""
    from blow_spark.queries import queries

    catalog = queries()
    for name in ("sink_partitioned_pruned_scan", "sink_sorted_clustered_scan"):
        before = M.live_scratch_count()
        catalog[name](spark, sf_dir).count()
        made_first = M.live_scratch_count() - before
        assert made_first > 0, f"{name} created no registered scratch dirs"
        catalog[name](spark, sf_dir).count()
        # second run registers the same number again (no hidden
        # unregistered dirs) and every registered path is live on disk
        assert M.live_scratch_count() - before == 2 * made_first
        assert all(os.path.exists(p) for p in M._live_scratch)


def test_cleanup_stale_siblings_keeps_only_current(own_registry):
    """Round-14 semantics: IDLE siblings (past min_age_s) go, the keep
    path stays, and FRESH siblings are spared — two sessions at
    different scale factors hold different equally-valid tokens, and
    the age guard is what keeps one from deleting the other's
    in-progress or actively-read cache (a live FileNotFoundError race
    caught this round)."""
    import time as _time

    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_sib_test_")
    stale1 = os.path.join(tmp, "blow_spark_sib_test_aaa")
    stale2 = os.path.join(tmp, "blow_spark_sib_test_bbb")
    fresh = os.path.join(tmp, "blow_spark_sib_test_ddd")
    keep = os.path.join(tmp, "blow_spark_sib_test_ccc")
    for p in (stale1, stale2, fresh, keep):
        os.makedirs(p, exist_ok=True)
    past = _time.time() - 2 * 3600
    for p in (stale1, stale2):
        os.utime(p, (past, past))
    M.cleanup_stale_siblings(keep, os.path.join(tmp, "blow_spark_sib_test_*"))
    assert os.path.isdir(keep)
    assert os.path.isdir(fresh), "age guard must spare a fresh sibling"
    assert not os.path.exists(stale1) and not os.path.exists(stale2)
    for p in (fresh, keep):
        M._remove_path(p)


def test_reap_orphan_scratch_rules(own_registry):
    """The startup janitor's three rules: dead-pid-marked dirs go,
    live-pid-marked and _SUCCESS (fixture-cache) dirs stay, unmarked
    legacy dirs go only past the age threshold."""
    import time

    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_reap_test_")
    dead = os.path.join(tmp, "blow_spark_reap_test_dead")
    live = os.path.join(tmp, "blow_spark_reap_test_live")
    cache = os.path.join(tmp, "blow_spark_reap_test_cache")
    old = os.path.join(tmp, "blow_spark_reap_test_old")
    fresh = os.path.join(tmp, "blow_spark_reap_test_fresh")
    for p in (dead, live, cache, old, fresh):
        os.makedirs(p, exist_ok=True)
    # a pid that cannot exist (> pid_max on Linux)
    with open(os.path.join(dead, M._OWNER_MARKER), "w") as fh:
        fh.write("4999999")
    with open(os.path.join(live, M._OWNER_MARKER), "w") as fh:
        fh.write(str(os.getpid()))
    with open(os.path.join(cache, "_SUCCESS"), "w"):
        pass
    past = time.time() - 9 * 3600
    os.utime(old, (past, past))
    removed = M.reap_orphan_scratch(max_age_hours=8)
    assert removed >= 2
    assert not os.path.exists(dead)
    assert not os.path.exists(old)
    assert os.path.isdir(live)
    assert os.path.isdir(cache)
    assert os.path.isdir(fresh)
    for p in (live, cache, fresh):
        M._remove_path(p)


def test_registered_paths_survive_janitor(spark, own_registry):
    """Paths registered by THIS process are never reaped, marker or
    not (the registry check precedes every rule)."""
    d = M.scratch_dir(prefix="blow_spark_reapreg_test_")
    sp = M.spill_to_parquet(spark.range(2).toDF("x"), "blow_spark_reapspill_test_")
    M.reap_orphan_scratch(max_age_hours=0)  # maximally aggressive
    assert os.path.isdir(d)
    assert sp.count() == 2  # the spill dir is still readable


def test_graph_edge_queries_leave_no_session_cache(spark, sf_dir):
    """graph_triangle_count and graph_clustering_coefficient cut their
    edge list through materialize instead of ``DataFrame.cache()``, which
    no caller could release: after one collect of each, the session's
    CacheManager holds nothing."""
    from blow_spark.queries import queries

    qs = queries()
    spark.catalog.clearCache()
    for name in ("graph_triangle_count", "graph_clustering_coefficient"):
        assert qs[name](spark, sf_dir).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_no_lineage_cut_outside_materialize():
    """Every lineage cut and every cache goes through the materialize
    helpers: no module of the package but materialize.py calls
    ``.localCheckpoint()``, ``.cache()`` or ``.persist()`` (an operator
    that reads a table several times caches it with ``reused``)."""
    import ast

    pkg = os.path.dirname(M.__file__)
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if os.path.samefile(path, M.__file__):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        offenders += [
            f"{os.path.relpath(path, pkg)}:{node.lineno} .{node.func.attr}()"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "cache", "persist")
        ]
    assert not offenders, offenders


_LOST_BLOCK_SCRIPT = r"""
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[2]")
    .appName("lost_block_test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")

from blow_spark import materialize as M

src = (
    spark.range(100)
    .select((F.col("id") % 10).alias("k"), "id")
    .groupBy("k")
    .agg(F.sum("id").alias("s"))
)
want = sorted(map(tuple, src.collect()))
cuts = {
    name: getattr(M, name)(src)
    for name in ("spill_to_parquet", "checkpoint_small", "checkpoint_sublinear")
}
for name, df in cuts.items():
    assert sorted(map(tuple, df.collect())) == want, name
sc = spark.sparkContext
for rdd in list(sc._jsc.getPersistentRDDs().values()):
    rdd.unpersist(True)
assert sc._jsc.getPersistentRDDs().isEmpty()
for name, df in cuts.items():
    try:
        got = sorted(map(tuple, df.collect()))
    except Exception as exc:
        named = "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc)
        print(name, "NAMED" if named else "OTHER_ERROR")
    else:
        print(name, "ROWS" if got == want else "WRONG_ROWS")
spark.stop()
"""


def test_lost_block_is_survived_or_named():
    """A lost block is survived or named, never answered wrong: once
    every persistent RDD is unpersisted, a parquet spill still returns
    its rows, and a localCheckpoint cut (both block-manager classes)
    fails with Spark's CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Runs in its
    own session so the shared one keeps its blocks."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=pythonpath)
    out = subprocess.run(
        [sys.executable, "-c", _LOST_BLOCK_SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert out.returncode == 0, f"stdout={out.stdout[-2000:]}\nstderr={out.stderr[-2000:]}"
    lines = out.stdout.split("\n")
    assert "spill_to_parquet ROWS" in lines, out.stdout
    assert "checkpoint_small NAMED" in lines, out.stdout
    assert "checkpoint_sublinear NAMED" in lines, out.stdout
