"""Benchmark entry point.

    python3 perfbench/run.py --workload research_queries --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
block with ``--trace 1``. Exits non-zero, without a result, when the engine
package cannot be imported or the run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers unpickle the engine's functions, so they import it too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import harness, host  # noqa: E402
from perfbench.live import Live  # noqa: E402
from perfbench.research import Research  # noqa: E402
from perfbench.trace import ProgressListener, Tracer, engine_metrics, parse_event_log  # noqa: E402

WORKLOADS = {w.name: w for w in (Research, Live)}

END_TO_END = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "input_rows_per_s": "rows/s",
    "passed_op_share": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.ingest_s": "s", "sources.ingest_rows": "count",
    "sources.ingest_rejects": "count", "sources.ingest_duplicates": "count",
    "sources.scan_mb": "MB", "sources.write_mb": "MB",
    "operators.bars.self_s": "s", "operators.indicators.self_s": "s",
    "operators.gaps.self_s": "s", "operators.extremes.self_s": "s",
    "operators.volatility.self_s": "s", "operators.asof.self_s": "s",
    "operators.result_cache.hit_ratio": "ratio", "operators.result_cache.lookup_s": "s",
    "operators.sweep.self_s": "s", "operators.replay.self_s": "s",
    "operators.replay.fanout_rows": "count", "operators.replay.python_mb_in": "MB",
    "operators.replay.python_mb_out": "MB", "operators.replay.task_skew": "ratio",
    "operators.reporting.self_s": "s",
    "streaming.batch_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.rows_per_batch": "count",
    "streaming.backlog_ticks": "count",
    "operators.dedup.self_s": "s", "operators.similarity.self_s": "s",
    "operators.text.self_s": "s", "operators.curation.self_s": "s",
    "operators.similarity.candidate_pairs": "count",
    "operators.similarity.verified_share": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.driver_idle_share": "ratio", "spark.executor_cpu_share": "ratio",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "harness.generate_s": "s", "harness.oracle_s": "s", "harness.ops": "count",
    "harness.failed_op_share": "ratio",
    "harness.op_latency_p90_s": "s", "harness.op_latency_samples": "count",
    "harness.generator_lag_p99_s": "s", "harness.steal_share": "ratio",
    "harness.cotenant_cores": "cores", "harness.ops_rerun": "count",
    "harness.trace_overhead_ratio": "ratio", "scaling.speedup_vs_1core": "ratio",
}


def measure(wl, ctx: harness.Ctx, seconds: float) -> harness.Measurement:
    if hasattr(wl, "measure"):
        return wl.measure(ctx, seconds)
    return harness.measure_closed(ctx, wl.cycle, max(1, round(seconds / wl.cycle_s)))


def host_summary(ms: list[harness.Measurement]) -> tuple[float, float]:
    """Time-weighted steal share and co-tenant cores over the timed ops."""
    rs = [r for m in ms for r in m.readings]
    secs = sum(r.secs for r in rs) or 1.0
    return (sum(r.steal_share * r.secs for r in rs) / secs,
            sum(r.cotenant_cores * r.secs for r in rs) / secs)


def untraced(wl, ctx: harness.Ctx, seed: int, seconds: float) -> dict:
    n = harness.cores()
    t = time.perf_counter()
    wl.generate(seed, ctx.work, seconds)
    harness.log(f"generated inputs in {time.perf_counter() - t:.2f}s")
    t = time.perf_counter()
    harness.start_session(ctx, n)
    t1 = time.perf_counter()
    wl.warmup(ctx)
    setup_s = time.perf_counter() - t
    harness.log(f"set-up: session {t1 - t:.2f}s, warm-up {time.perf_counter() - t1:.2f}s")
    t = time.perf_counter()
    wl.oracle(ctx)
    harness.log(f"expectations in {time.perf_counter() - t:.2f}s")
    t = time.perf_counter()
    with host.RssSampler() as rss:
        m = measure(wl, ctx, seconds)
    harness.log(f"timed ops in {time.perf_counter() - t:.2f}s")
    steal, cotenant = host_summary([m])
    checked = wl.self_check(m)
    harness.log(f"{m.attempted} ops, {m.failed} failed, {m.reruns} re-run, "
                f"p50 {m.p50():.3f}s, steal {steal:.3f}, co-tenant {cotenant:.2f} cores")
    return {
        "correct": m.failed == 0 and checked,
        "attempted": m.attempted,
        "failed": m.failed,
        "values": {
            "setup_s": setup_s,
            "op_latency_p50_s": m.p50(),
            "input_rows_per_s": m.rows_per_s(),
            "passed_op_share": 1.0 - m.failed / m.attempted,
            "peak_rss_mb": rss.peak_mb,
        },
    }


def traced(wl, ctx: harness.Ctx, seed: int, seconds: float) -> dict:
    n = harness.cores()
    t = time.perf_counter()
    wl.generate(seed, ctx.work, seconds)
    generate_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = harness.start_session(ctx, n, trace=True)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warmup(ctx)
    warmup_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.oracle(ctx)
    oracle_s = time.perf_counter() - t
    values = {k: 0.0 for k in PER_LAYER}
    values.update(wl.trace_counters(ctx))

    # untraced vs traced in one event-logging session, then local[1]
    if hasattr(wl, "measure"):
        base = wl.measure(ctx, seconds)
        listener = ProgressListener()
        spark.streams.addListener(listener)
        ctx.tracer.enabled = True
        tr = wl.measure(ctx, seconds)
        ctx.tracer.enabled = False
        spark.streams.removeListener(listener)
        values.update(listener.metrics(tr.extra["backlog_ticks"]))
    else:
        base, tr = harness.measure_paired(ctx, wl.cycle(ctx, 0))
    harness.stop_session(ctx)
    evlog = parse_event_log(os.path.join(ctx.work, "eventlog"), ctx.workload).within(tr.windows_ms)
    values.update(wl.layer_metrics(ctx, evlog))
    values.update(engine_metrics(evlog, tr.windows_ms, tr.attempted, n))
    harness.start_session(ctx, 1)
    wl.warmup(ctx)
    wl.new_phase("one_core")
    one = wl.measure(ctx, seconds) if hasattr(wl, "measure") else \
        harness.measure_closed(ctx, lambda c, i: wl.one_core_ops(c), 1)

    runs = [base, tr, one]
    steal, cotenant = host_summary(runs)
    failed = sum(m.failed for m in runs)
    attempted = sum(m.attempted for m in runs)
    values.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "harness.generate_s": generate_s,
        "harness.oracle_s": oracle_s,
        "harness.ops": float(attempted),
        "harness.failed_op_share": failed / attempted,
        "harness.op_latency_p90_s": harness.percentile(base.latencies, 90),
        "harness.op_latency_samples": float(len(base.latencies)),
        "harness.generator_lag_p99_s": base.extra.get("harness.generator_lag_p99_s", 0.0),
        "harness.steal_share": steal,
        "harness.cotenant_cores": cotenant,
        "harness.ops_rerun": float(sum(m.reruns for m in runs)),
        "harness.trace_overhead_ratio": kind_ratio(tr, base),
        "scaling.speedup_vs_1core": kind_ratio(one, base),
    })
    checked = all(wl.self_check(m) for m in runs)
    return {"correct": failed == 0 and checked, "attempted": attempted, "failed": failed,
            "values": values}


def kind_ratio(num: harness.Measurement, den: harness.Measurement) -> float:
    """Geometric mean, over the op kinds both phases ran, of the ratio of
    their median latencies; back-to-back pairs alternate which side runs
    first, so a first-run penalty cancels in the product. An open loop's
    trades are one kind."""
    kinds = [k for k in num.by_kind if k in den.by_kind]
    if not kinds:
        return num.p50() / den.p50()
    logs = [math.log(statistics.median(num.by_kind[k]) / statistics.median(den.by_kind[k]))
            for k in kinds]
    return math.exp(sum(logs) / len(logs))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import finiextestingide_spark  # noqa: F401 - fail fast without the engine

    wl = WORKLOADS[args.workload]()
    work = harness.make_workdir(ROOT, args.workload)
    ctx = harness.Ctx(args.workload, work, Tracer(args.workload, False), harness.cores())
    try:
        out = (traced if args.trace else untraced)(wl, ctx, args.seed, args.seconds)
    finally:
        t = time.perf_counter()
        harness.stop_session(ctx)
        harness.shutdown_jvm()
        harness.log(f"shut down in {time.perf_counter() - t:.2f}s")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(out["values"][k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
