"""Benchmark of the blow_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 11 --trace 0

Run from the root of a checkout. The run reads the fixture tables under
``fixtures/`` (``--seed`` orders the operations and seeds the flatmap
chain), starts a ``local[<cores>]`` session, sets up once cold and
``SETUPS`` times warm, runs one checked pass (every output compared with
its reference, outside any timed region), then runs timed passes for
``--seconds`` seconds, with calibration probes between operations. It
prints one line per metric and, last, one JSON object. ``--trace 1``
alternates untraced and traced passes and reports the per-layer metrics
and the tracing overhead instead of the end-to-end ones; its spans are
written to ``.perfbench/traces/``. README.md in this directory lists
every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Session restarts per run after the first, cold start; ``setup_s`` is
#: their median.
SETUPS = 2
#: Pause between two timed operations, outside the timed region, so the
#: JVM's asynchronous cleanup of one sample does not land in the next.
SETTLE_S = 0.05
#: Timed passes a run makes at least; two give every operation two samples.
MIN_PASSES = 2
#: Calibration probes (see Session.probe_s) run before each timed operation.
PROBES_PER_OP = 2
#: Probes run, untimed, at the end of the check pass, so the first timed
#: pass does not scale by a probe still being compiled.
PROBE_WARMUPS = 3
#: A round figure near the probe's latency on an idle 4-vCPU host
#: (0.13-0.2 s as the JVM warms up). End-to-end times
#: are reported at that speed: the time measured in a pass × PROBE_REF_S /
#: the median latency of the probes run in that pass.
PROBE_REF_S = 0.2
#: The probe's SQL configuration. Every other runtime ``spark.sql.*`` key
#: is back at Spark's default while the probe runs.
PROBE_CONF = {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "true"}
#: Partitions of the probe's generated rows.
PROBE_SLICES = 4

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "records_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.tasks_failed": "count",
    "queries.driver_gap_s": "s",
    "queries.busy_ratio": "ratio",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.shuffle_read_mb": "MB",
    "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB",
    "queries.input_mb": "MB",
    "materialize.calls": "count",
    "materialize.s": "s",
    "materialize.jobs": "count",
    "dedup.calls": "count",
    "dedup.self_s": "s",
    "similarity.calls": "count",
    "similarity.self_s": "s",
    "ops.calls": "count",
    "ops.self_s": "s",
    "pipeline.build_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.executor_offcpu_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "sources.write_s": "s",
    "sources.output_mb": "MB",
    "error_rate": "ratio",
    "trace.overhead_pct": "%",
}

#: A percentile is supported when at least this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


#: Points of the grid on which :func:`quantile` integrates its weights.
_GRID = 100_000


def quantile(values: list[float], q: float) -> float:
    """The q-quantile by the Harrell-Davis estimator: a weighted mean of
    all order statistics, weighted by a Beta(q(n+1), (1-q)(n+1))
    distribution. A run's samples come from a handful of operations with
    distinct latencies; where the sample quantile jumps from one
    operation's latency to the next as a sample moves, this estimate
    moves by a fraction of the gap."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    t = (np.arange(_GRID) + 0.5) / _GRID
    cdf = np.concatenate(([0.0], np.cumsum(np.exp((a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)))))
    cdf = np.interp(np.arange(n + 1) / n, np.arange(_GRID + 1) / _GRID, cdf / cdf[-1])
    return float(np.dot(np.diff(cdf), x))


def tail_supported(n: int, q: float = 0.9) -> bool:
    """True when ``n`` samples leave at least TAIL_MIN_BEYOND beyond the q-quantile."""
    return n * (1.0 - q) >= TAIL_MIN_BEYOND - 1e-9


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an exception or a
    wrong output, and is never dropped."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {detail}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Sample:
    op: object
    start: float  # perf_counter at the start of the build
    build_s: float
    action_s: float

    @property
    def latency(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Pass:
    """One timed pass: the samples of the operations that succeeded and
    the calibration probe latencies measured between them."""

    traced: bool
    samples: list[Sample] = field(default_factory=list)
    probes: list[float] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return sum(s.latency for s in self.samples)

    @property
    def speed(self) -> float:
        """How much slower than the reference host Spark ran in this pass."""
        return statistics.median(self.probes) / PROBE_REF_S


class Bench:
    """Drives one workload's operations through set-up, check and timed
    passes. ``session`` holds the Spark session (see :class:`Session`:
    ``spark``, ``start()``, ``restart()``, ``probe_s()``)."""

    def __init__(self, session, ops: list, seed: int, cores: int, tracer=None):
        self.session = session
        self.ops = ops
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.tally = Tally()
        self.cold_setup: tuple[float, float] | None = None
        self.setups: list[tuple[float, float]] = []
        self.passes: list[Pass] = []
        self._groups = 0

    # -- one operation ------------------------------------------------------

    def settle(self) -> None:
        self.session.spark.catalog.clearCache()
        gc.collect()
        time.sleep(SETTLE_S)

    def execute(self, op, collect: bool = False, traced: bool = False) -> Sample | None:
        """Build, act and verify ``op``; a failure is counted and gives no sample."""
        self.settle()
        self.tally.attempted += 1
        spark = self.session.spark
        try:
            start = time.perf_counter()
            if traced:
                build_s, action_s, out = self._run_traced(op, spark)
            else:
                built = op.build(spark)
                build_s = time.perf_counter() - start
                out = op.act(built, collect)
                action_s = time.perf_counter() - start - build_s
            detail = op.verify(out)
        except Exception as e:  # a failing operation is a result, not a crash
            detail = f"{type(e).__name__}: {e}"
        if detail is not None:
            self.tally.fail(op.name, detail[:300])
            return None
        return Sample(op, start, build_s, action_s)

    def _run_traced(self, op, spark) -> tuple[float, float, object]:
        """One operation under spans for the operation, its build and its
        action; build and action run under job groups of their own, whose
        status-store counters the spans carry."""
        from spans import group_counters

        sc = spark.sparkContext
        self._groups += 1
        groups = {part: f"perfbench-{self._groups}-{part}" for part in ("build", "action")}
        try:
            with self.tracer.span(op.name, op.layer):
                sc.setJobGroup(groups["build"], op.name)
                with self.tracer.span("build", op.layer) as b:
                    built = op.build(spark)
                sc.setJobGroup(groups["action"], op.name)
                with self.tracer.span("action", op.action_layer) as a:
                    out = op.act(built, False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        b.counters = group_counters(spark, groups["build"])
        a.counters = group_counters(spark, groups["action"])
        return b.duration, a.duration, out

    # -- phases -----------------------------------------------------------

    def setup(self) -> None:
        """Session start plus a warm-up of the workload's first operation:
        once cold, launching the JVM, then SETUPS times more, each
        stopping the session and starting a fresh one in the same JVM.
        Each warm-up's output is collected and checked, outside the
        set-up time."""
        for i in range(1 + SETUPS):
            t0 = time.perf_counter()
            if i:
                self.session.restart()
            else:
                self.session.start()
            t1 = time.perf_counter()
            s = self.execute(self.ops[0], collect=True)
            if s is None:
                continue
            if i == 0:
                self.cold_setup = (t1 - t0, s.latency)
                continue
            self.setups.append((t1 - t0, s.latency))
            if self.tracer:
                self.tracer.spans.append(_span("session.start", t0, t1, self.tracer.run_id))
                self.tracer.spans.append(_span("session.warm", s.start, s.start + s.latency, self.tracer.run_id))

    def order(self, pass_no: int) -> list:
        ops = list(self.ops)
        random.Random(f"{self.seed}:{pass_no}").shuffle(ops)
        return ops

    def check_pass(self) -> None:
        """Every operation the set-ups did not run, once, with its output
        collected and compared; this also warms every plan, the probe's
        too, before the timed passes."""
        for op in self.order(-1):
            if op is not self.ops[0]:
                self.execute(op, collect=True)
        for _ in range(PROBE_WARMUPS):
            self.session.probe_s()

    def timed_passes(self, seconds: float, trace: bool) -> None:
        """Whole passes until the timed operations add up to ``seconds``
        at the reference speed (at least MIN_PASSES), so that host
        contention does not change the number of passes; with ``trace``,
        untraced and traced passes alternate, starting and ending
        untraced, so that warming during the run does not favour either
        side of the tracing overhead. A pass in which every operation
        failed ends the run: its time would never add up."""
        while True:
            n = len(self.passes)
            if n and not self.passes[-1].samples:
                break
            timed = sum(p.wall / p.speed for p in self.passes)
            if n >= MIN_PASSES and timed >= seconds and (not trace or (n >= 3 and n % 2 == 1)):
                break
            p = Pass(traced=trace and n % 2 == 1)
            if p.traced:
                from spans import install_layer_wrappers

                with self.tracer.span(f"pass-{n}", "pass"):
                    restore = install_layer_wrappers(self.tracer)
                    try:
                        self._pass(p, n)
                    finally:
                        restore()
            else:
                self._pass(p, n)
            self.passes.append(p)

    def _pass(self, p: Pass, n: int) -> None:
        for op in self.order(n):
            p.probes.extend(self.session.probe_s() for _ in range(PROBES_PER_OP))
            s = self.execute(op, traced=p.traced)
            if s is not None:
                p.samples.append(s)

    # -- metrics ----------------------------------------------------------

    def untraced(self) -> list[Pass]:
        return [p for p in self.passes if not p.traced and p.samples]

    def median_wall(self, traced: bool) -> float:
        """Median over passes of one pass's summed operation latencies, at
        the reference speed."""
        return statistics.median(p.wall / p.speed for p in self.passes if p.traced == traced)

    def end_to_end(self, peak_rss_mb: float, scaled: bool = True) -> dict[str, float]:
        """The end-to-end metrics. With ``scaled`` the operation times of
        each pass are divided by that pass's speed; ``setup_s`` and
        ``peak_rss_mb`` are always as measured."""
        passes = self.untraced()
        speed = [p.speed if scaled else 1.0 for p in passes]
        lat = [s.latency / v for p, v in zip(passes, speed) for s in p.samples]
        return {
            "setup_s": statistics.median(a + b for a, b in self.setups),
            "wall_s": statistics.median(p.wall / v for p, v in zip(passes, speed)),
            "query_p50_s": quantile(lat, 0.5),
            "query_p90_s": quantile(lat, 0.9),
            "records_per_s": sum(s.op.records for p in passes for s in p.samples) / sum(lat),
            "peak_rss_mb": peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        from spans import layer_metrics

        traced = [
            layer_metrics(self.tracer, i, self.cores)
            for i, s in enumerate(self.tracer.spans)
            if s.layer == "pass"
        ]
        out = {name: statistics.median(m.get(name, 0.0) for m in traced) for name in PER_LAYER}
        out["session.start_s"] = statistics.median(a for a, _ in self.setups)
        out["session.warm_s"] = statistics.median(b for _, b in self.setups)
        out["error_rate"] = self.tally.error_rate
        out["trace.overhead_pct"] = 100.0 * (self.median_wall(True) / self.median_wall(False) - 1.0)
        return {name: float(out[name]) for name in PER_LAYER}


def _span(name: str, p0: float, p1: float, run_id: str):
    """A session span from perf_counter readings, on the epoch clock."""
    from spans import Span

    offset = time.time() - time.perf_counter()
    return Span(name, "session", p0 + offset, p1 + offset, None, run_id)


class Session:
    """The run's Spark session, through the program's own factory."""

    def __init__(self):
        self.spark = None

    def probe_s(self) -> float:
        """Latency of one fixed query that runs no blow_spark code: a
        grouped count, sorted, over 20k generated rows. Like the catalog's
        short rows it is mostly Catalyst planning, AQE and a few small
        jobs, so host contention slows it about as much as it slows them.
        It runs under fixed SQL configuration, so the settings
        blow_spark.session chooses do not move it."""
        with fixed_sql_conf(self.spark.conf, PROBE_CONF):
            t0 = time.perf_counter()
            self.spark.range(0, 20_000, 1, PROBE_SLICES).selectExpr("id % 97 AS k").groupBy(
                "k"
            ).count().orderBy("k").collect()
            return time.perf_counter() - t0

    def start(self) -> None:
        from blow_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")

    def restart(self) -> None:
        self.spark.stop()
        self.start()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


@contextmanager
def fixed_sql_conf(conf, fixed: dict[str, str]) -> Iterator[None]:
    """Unset every modifiable ``spark.sql.*`` key of the runtime ``conf``,
    set ``fixed``, and put the previous values back on exit."""
    saved = {k: v for k, v in conf.getAll.items() if k.startswith("spark.sql.") and conf.isModifiable(k)}
    for k in saved:
        conf.unset(k)
    for k, v in fixed.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k in fixed:
            conf.unset(k)
        for k, v in saved.items():
            conf.set(k, v)


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time counters (user … steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_size() -> tuple[int, str]:
    """Cores and driver heap for this host: every core the process may
    use, and an eighth of physical memory clamped to 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return cores, f"{min(4096, max(1024, total_mb // 8))}m"


def prepare_environment(run_dir: str) -> tuple[int, str]:
    """Keep every file the run writes under ``run_dir`` and size the
    session through the program's own overrides. The driver heap starts
    at its maximum, so the JVM's footprint does not depend on when the
    collector decides to grow the heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cores, mem = host_size()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", mem)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM spark-submit runs to build the command
    driver_opts = f"{java_opts} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(driver_opts)} pyspark-shell"
    os.chdir(run_dir)
    return int(os.environ["SPARK_GRAFT_CPUS"]), os.environ["SPARK_GRAFT_DRIVER_MEM"]


def main(argv: list[str]) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "blow_spark", "session.py")):
        print(f"blow_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores, mem = prepare_environment(run_dir)
    session = Session()
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        ops = workloads.operations(args.workload, args.seed, cores, run_dir)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(f"{args.workload}-{args.seed}")
        bench = Bench(session, ops, args.seed, cores, tracer)
        phase("inputs")
        bench.setup()
        phase("setup")
        bench.check_pass()
        phase("check")
        ticks = cpu_ticks()
        bench.timed_passes(args.seconds, bool(args.trace))
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        phase("timed")
        peak = session.jvm_peak_rss_mb()
    finally:
        session.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("stop")

    if bench.cold_setup is None or len(bench.setups) < SETUPS or not any(bench.untraced()):
        print("no complete set-up or timed pass:", *bench.tally.failures, sep="\n  ", file=sys.stderr)
        return 1
    e2e = bench.end_to_end(peak)
    metrics = bench.per_layer() if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    n_lat = sum(len(p.samples) for p in bench.untraced())

    print(f"workload {args.workload} seed {args.seed} local[{cores}] driver memory {mem}")
    print("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    # time the hypervisor gave to other guests while this one wanted the CPU
    print(f"steal {100.0 * ticks[7] / max(1, sum(ticks)):.1f}% of CPU time during the timed passes")
    print(f"passes {len(bench.passes)} (untraced {len(bench.untraced())}), latency samples {n_lat}")
    if not tail_supported(n_lat):
        print(f"query_p90_s rests on {n_lat} samples: fewer than {TAIL_MIN_BEYOND} lie beyond it")
    print(
        f"probe reference {PROBE_REF_S} s; per pass, Spark ran this many times the reference time"
        " (operation times below are divided by it, setup_s and peak_rss_mb are not): "
        + ", ".join(f"{p.speed:.3f} ({len(p.probes)} probes)" for p in bench.passes)
    )
    print("measured " + ", ".join(f"{k} {v:.4g}" for k, v in bench.end_to_end(peak, scaled=False).items()))
    start, warm = bench.cold_setup
    print(f"cold set-up (JVM launch) {start + warm:.3f} s: session start {start:.3f} s, warm-up {warm:.3f} s")
    print("warm set-ups (session start + warm-up) " + ", ".join(f"{a:.3f} + {b:.3f} s" for a, b in bench.setups))
    print(f"error_rate {bench.tally.error_rate} ratio ({bench.tally.failed} of {bench.tally.attempted} operations failed)")
    for op in ops:
        lat = [s.latency for p in bench.untraced() for s in p.samples if s.op is op]
        if lat:
            print(f"op {op.name} median {statistics.median(lat):.3f} s of", " ".join(f"{x:.3f}" for x in lat))
    for failure in bench.tally.failures:
        print(f"FAILED {failure}")
    for name, value in {**e2e, **metrics}.items():
        print(f"{name} {value} {(PER_LAYER | END_TO_END)[name]}")
    if tracer is not None:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "spans": tracer.to_json()}, fh)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": bench.tally.failed == 0,
                "attempted": bench.tally.attempted,
                "failed": bench.tally.failed,
                "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
            }
        )
    )
    # a run with a failed or wrong operation is not a measurement
    return 1 if bench.tally.failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
