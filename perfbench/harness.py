"""Run protocol shared by every workload.

One run of ``perfbench/run.py``:

1. generate the workload's inputs from the seed (``harness.generate_s``);
2. set up once, cold: the JVM launch in ``session.build_session`` plus the
   workload's warm-up pass (``setup_s``);
3. compute the expectations (``harness.oracle_s``), outside every timed op;
4. run round(``--seconds`` / cycle_s) whole cycles of the workload's op mix
   (an open-loop workload paces its feed for ``--seconds``), so every run
   times the same work. Each op's output is checked against its
   expectation; a failed op is always counted. An op that ran while the
   host was contended (steal or co-tenant cores above a fixed limit) is
   re-run, within a fixed budget;
5. corrupt one correct output of each op kind and confirm its check fails.

A traced run (``--trace 1``) instead times each op kind untraced and traced
(job labels, spans, event log, streaming listener) in one session, then
again at ``local[1]``, and prints the per-layer block.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from . import host
from .trace import Tracer

#: an op re-runs when the host was this contended while it ran
STEAL_LIMIT = 0.05
COTENANT_LIMIT = 1.0
#: re-runs allowed per op and per run
RERUNS_PER_OP = 1
RERUNS_PER_RUN = 6
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Op:
    """One request: ``run`` does the work and returns its output, ``check``
    returns the differences from the expectation (empty when correct)."""

    kind: str
    run: Callable[["Ctx"], object]
    check: Callable[[object], list[str]]
    rows: int
    rerunnable: bool = True


@dataclass
class Ctx:
    workload: str
    work: str
    tracer: Tracer
    master_cores: int
    spark: object = None


class Workload:
    """Defaults for the optional parts of a workload. A closed-loop
    workload defines ``cycle(ctx, i)`` and ``cycle_s``; an open-loop one
    defines ``measure(ctx, seconds)``."""

    def new_phase(self, tag: str) -> None:
        """Reset state that a measured phase must start without."""

    def trace_counters(self, ctx: "Ctx") -> dict:
        """Per-layer counts that need a Spark job of their own."""
        return {}

    def self_check(self, m: "Measurement") -> bool:
        return self_check(m)


@dataclass
class Measurement:
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows: int = 0
    op_wall: float = 0.0
    reruns: int = 0
    readings: list[host.Reading] = field(default_factory=list)
    windows_ms: list[tuple[int, int]] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    #: op kind -> (op, its first correct output), for the self-check
    samples: dict = field(default_factory=dict)
    #: op kind -> latencies, for per-kind comparisons between phases
    by_kind: dict = field(default_factory=dict)

    def p50(self) -> float:
        return statistics.median(self.latencies)

    def rows_per_s(self) -> float:
        return self.rows / self.op_wall


# --- session lifecycle ---------------------------------------------------------


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: G1's heap-sizing decisions otherwise differ from
        # run to run and move GC time and resident memory with them
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    return conf


def start_session(ctx: Ctx, n_cores: int, trace: bool = False):
    from finiextestingide_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{n_cores}]",
        shuffle_partitions=ctx.master_cores,
        extra_conf=spark_conf(ctx.work, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.tracer.spark = spark
    return spark


def stop_session(ctx: Ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for every process this run started
    (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while (left := host.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}"):
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                time.sleep(0.05)


# --- closed-loop measurement -----------------------------------------------------


def contended(reading: host.Reading) -> bool:
    return reading.steal_share > STEAL_LIMIT or reading.cotenant_cores > COTENANT_LIMIT


def run_op(ctx: Ctx, op: Op, m: Measurement, probe: host.Probe) -> None:
    attempts = 0
    while True:
        probe.start()
        w0 = int(time.time() * 1000)
        t0 = time.perf_counter()
        try:
            out = op.run(ctx)
            problems = None
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            out, problems = None, [f"{op.kind}: raised {type(e).__name__}: {str(e)[:300]}"]
        dt = time.perf_counter() - t0
        w1 = int(time.time() * 1000)
        reading = probe.stop()
        if problems is None:
            problems = [f"{op.kind}: {p}" for p in op.check(out)]
        if (problems or not contended(reading) or not op.rerunnable
                or attempts >= RERUNS_PER_OP or m.reruns >= RERUNS_PER_RUN):
            break
        attempts += 1
        m.reruns += 1
        log(f"re-run {op.kind}: steal {reading.steal_share:.3f}, "
            f"co-tenant {reading.cotenant_cores:.2f} cores")
    log(f"op {op.kind}: {dt:.3f}s")
    m.attempted += 1
    m.latencies.append(dt)
    m.by_kind.setdefault(op.kind, []).append(dt)
    m.op_wall += dt
    m.rows += op.rows
    m.readings.append(reading)
    m.windows_ms.append((w0, w1))
    if problems:
        m.failed += 1
        m.problems.extend(problems)
        log("FAILED " + "; ".join(problems)[:500])
    else:
        m.samples.setdefault(op.kind, (op, out))


def corrupt(out):
    """A copy of an op's output with one value changed or one row dropped."""
    import pandas as pd

    if isinstance(out, pd.DataFrame):
        bad = out.copy()
        num = [c for c in bad.columns if pd.api.types.is_numeric_dtype(bad[c])
               and not pd.api.types.is_bool_dtype(bad[c])]
        if num and len(bad):
            bad.loc[bad.index[0], num[0]] += 1
            return bad
        return bad.iloc[1:]
    if isinstance(out, dict):
        k = next(iter(out))
        return {**out, k: out[k] + 1}
    if all(isinstance(x, int) for x in out):
        return (out[0] + 1, *out[1:])
    return (out[0][:-1], *out[1:])


def self_check(m: Measurement) -> bool:
    """Corrupt one correct output of every op kind and confirm its check
    counts it as failed."""
    missed = [kind for kind, (op, out) in m.samples.items() if not op.check(corrupt(out))]
    log(f"self-check: corrupted the output of {len(m.samples)} op kinds, "
        f"{len(m.samples) - len(missed)} counted as failed" + (f", missed {missed}" if missed else ""))
    return not missed


def measure_closed(ctx: Ctx, cycle: Callable[[Ctx, int], list[Op]], cycles: int) -> Measurement:
    m = Measurement()
    probe = host.Probe()
    for i in range(cycles):
        for op in cycle(ctx, i):
            run_op(ctx, op, m, probe)
    return m


def measure_paired(ctx: Ctx, ops: list[Op]) -> tuple[Measurement, Measurement]:
    """The first op of each kind untraced and traced back to back,
    alternating which goes first; ops that change state (ingest, cached
    scans) run once, traced. Returns (untraced, traced)."""
    base, traced = Measurement(), Measurement()
    probe = host.Probe()
    seen = set()
    for op in ops:
        if op.rerunnable and op.kind in seen:
            continue
        seen.add(op.kind)
        order = (False, True) if len(seen) % 2 else (True, False)
        for enabled in (order if op.rerunnable else (True,)):
            ctx.tracer.enabled = enabled
            run_op(ctx, op, traced if enabled else base, probe)
    ctx.tracer.enabled = False
    return base, traced


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[int(q) - 1]


def make_workdir(root: str, workload: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # everything Spark, Python workers and tempfile write stays in the run's
    # directory (the JVM takes -Djava.io.tmpdir from spark_conf)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return work
