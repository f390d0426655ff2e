"""research_queries: one researcher at a notebook, closed loop.

Each cycle ingests two new MQL5 export batches into the tick lake
(``sources.mql5_json.ingest``), then runs, in an order seeded by the cycle
index:

- the nine analytics reads of the query registry over a seeded ``events``
  table (each has run once over a small table in the warm-up);
- four discovery scans through ``operators.result_cache.ResultCache`` with
  two repeating parameter sets. The ingest changes the lake's files, so the
  first scan of each parameter set in a cycle misses the cache and the
  second hits;
- the four corpus-curation ops of ``corpus.Corpus``;
- one 40-scenario backtest sweep of ``sweep.Sweep``.

Expectations: the registry's DuckDB oracle SQL for the analytics reads;
planted truth (malformed and re-sent files, tick counts, gap counts) for the
ingest and the discovery scans; see the corpus and sweep modules for theirs.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyspark.sql.functions as F

from . import gen
from .corpus import Corpus
from .harness import Ctx, Op, Workload
from .sweep import Sweep

TICKS_PER_SYMBOL = 4000
DAYS = 30
EXPORT_TICKS_PER_FILE = 400
#: the two discovery parameter sets (expected inter-tick interval, ms)
GAP_INTERVALS_MS = (10_000, 60_000)

#: registry query -> the operator module it exercises
ANALYTICS = {
    "bars_1h": "operators.bars",
    "rsi_14_daily": "operators.indicators",
    "bollinger_20_daily": "operators.indicators",
    "macd_daily": "operators.indicators",
    "atr_sma_daily": "operators.indicators",
    "gap_scan": "operators.gaps",
    "extreme_moves_hourly": "operators.extremes",
    "volatility_regimes": "operators.volatility",
    "asof_purchase_click": "operators.asof",
}


class Research(Workload):
    name = "research_queries"
    #: nominal seconds per cycle: a run times round(seconds / cycle_s) cycles
    cycle_s = 30.0

    def generate(self, seed: int, work: str, seconds: float) -> None:
        from finiextestingide_spark.gate import all_queries

        self.queries = all_queries()
        self.seed = seed
        self.work = work
        self.events_dir = os.path.join(work, "events")
        self.warm_dir = os.path.join(work, "warm")
        gen.write_events(os.path.join(self.events_dir, "events.parquet"), seed,
                         TICKS_PER_SYMBOL, DAYS)
        gen.write_events(os.path.join(self.warm_dir, "events.parquet"), seed + 1, 400, DAYS)
        self.corpus = Corpus()
        self.corpus.generate(seed, work, self.queries)
        self.sweep = Sweep(self.events_dir, TICKS_PER_SYMBOL)
        self.new_phase("lake")

    def new_phase(self, tag: str) -> None:
        """A fresh export feed, lake, cache and counters: each measured
        phase starts from an empty lake."""
        self.counters = {"ingest_rows": 0, "ingest_rejects": 0, "ingest_duplicates": 0,
                         "lookups": 0, "hits": 0, "lookup_s": 0.0}
        base = os.path.join(self.work, tag)
        self.feed = gen.ExportFeed(os.path.join(base, "exports"), self.seed, EXPORT_TICKS_PER_FILE)
        self.lake = os.path.join(base, "lake")
        self.cache_dir = os.path.join(base, "cache")

    def oracle(self, ctx: Ctx) -> None:
        con = duckdb.connect()
        try:
            path = os.path.join(self.events_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            self.expected = {n: con.execute(self.queries[n].sql).df() for n in ANALYTICS}
        finally:
            con.close()
        self.corpus.oracle()

    def trace_counters(self, ctx: Ctx) -> dict:
        return self.corpus.trace_counters(ctx)

    def warmup(self, ctx: Ctx) -> None:
        # every analytics read and a tokenize read over small inputs: a read's
        # first run in a JVM costs about 1.6x its later runs (plan shapes,
        # generated code), and with that in the timed phase the latency
        # median fell between the first runs and the repeats
        for name in ANALYTICS:
            self.queries[name].fn(ctx.spark, self.warm_dir).toPandas()
        self.corpus.warmup(ctx)

    # --- ops -----------------------------------------------------------------

    def _ingest(self, ctx: Ctx, glob: str, lake: str) -> dict:
        from finiextestingide_spark.sources.mql5_json import ingest, read_tick_lake

        log = read_tick_lake(ctx.spark, lake).select("source_file") if os.path.exists(lake) else None
        return ingest(ctx.spark, glob, lake, ingest_log=log)

    def _analytics(self, name: str) -> Op:
        from finiextestingide_spark.testing import compare_frames

        def run(ctx: Ctx):
            with ctx.tracer.span(ANALYTICS[name]):
                return self.queries[name].fn(ctx.spark, self.events_dir).toPandas()

        return Op(name, run, lambda out: compare_frames(out, self.expected[name]),
                  rows=len(gen.SYMBOLS) * TICKS_PER_SYMBOL)

    def _ingest_op(self, i: int) -> Op:
        glob, want = self.feed.batch(i)

        def run(ctx: Ctx):
            with ctx.tracer.span("sources"):
                got = self._ingest(ctx, glob, self.lake)
            self.counters["ingest_rows"] += got["ticks_written"]
            self.counters["ingest_rejects"] += got["files_rejected"]
            self.counters["ingest_duplicates"] += got["files_duplicate"]
            return got

        def check(got: dict) -> list[str]:
            return [f"{k}: got {got.get(k)}, planted {v}" for k, v in want.items() if got.get(k) != v]

        rows = want["ticks_written"] + want["files_duplicate"] * EXPORT_TICKS_PER_FILE
        return Op("ingest", run, check, rows=rows, rerunnable=False)

    def _discovery_op(self, interval_ms: int, want: tuple[int, int], lake_ticks: int) -> Op:
        from finiextestingide_spark.operators.gaps import detect_gaps
        from finiextestingide_spark.operators.result_cache import ResultCache
        from finiextestingide_spark.sources.mql5_json import read_tick_lake

        def run(ctx: Ctx):
            cache = ResultCache(self.cache_dir)
            name = f"gaps_{interval_ms}"
            params = {"expected_interval_ms": interval_ms}
            t0 = time.perf_counter()
            with ctx.tracer.span("operators.result_cache"):
                hit = cache.lookup(name, [self.lake], params).hit
            self.counters["lookup_s"] += time.perf_counter() - t0
            self.counters["lookups"] += 1
            self.counters["hits"] += int(hit)
            with ctx.tracer.span("operators.result_cache" if hit else "operators.gaps"):
                gaps = cache.get_or_compute(
                    ctx.spark, name, [self.lake], params,
                    lambda: detect_gaps(read_tick_lake(ctx.spark, self.lake), interval_ms,
                                        key="symbol", ts="timestamp", tiebreak="time_msc"),
                )
                row = gaps.agg(F.count(F.lit(1)).alias("n"), F.sum("gap_ms").alias("ms")).first()
            return int(row["n"]), int(row["ms"] or 0)

        def check(got: tuple[int, int]) -> list[str]:
            return [] if got == want else [f"gaps (count, ms) {got}, planted {want}"]

        return Op(f"discovery_{interval_ms}", run, check, rows=lake_ticks, rerunnable=False)

    def cycle(self, ctx: Ctx, i: int) -> list[Op]:
        # two export batches per cycle, so every cycle re-sends a file
        ingest = [self._ingest_op(2 * i), self._ingest_op(2 * i + 1)]
        lake_ticks = sum(len(t) for parts in self.feed.valid_ms.values() for t in parts)
        scans = [self._discovery_op(ms, self.feed.expected_gaps(ms), lake_ticks)
                 for ms in GAP_INTERVALS_MS for _ in range(2)]
        ops = ([self._analytics(n) for n in ANALYTICS] + scans
               + self.corpus.ops() + [self.sweep.op(i)])
        # the order is seeded by the cycle index, not the data seed: every
        # run meets each op at the same point of the JVM's warm-up, which
        # keeps per-op latencies comparable between runs
        order = np.random.default_rng(i).permutation(len(ops))
        return ingest + [ops[k] for k in order]

    def one_core_ops(self, ctx: Ctx) -> list[Op]:
        """The local[1] comparison: each analytics read and the sweep once
        (the corpus ops are left out to keep a traced run within its time
        limit; the lake-dependent ops need the ingest)."""
        return [self._analytics(n) for n in ANALYTICS] + [self.sweep.op(0)]

    def layer_metrics(self, ctx: Ctx, evlog) -> dict:
        c = self.counters
        src = evlog.by_label("sources") if evlog else []
        tr = ctx.tracer
        self_s = tr.self_s()
        out = {
            "sources.ingest_s": tr.total_s("sources"),
            "sources.ingest_rows": float(c["ingest_rows"]),
            "sources.ingest_rejects": float(c["ingest_rejects"]),
            "sources.ingest_duplicates": float(c["ingest_duplicates"]),
            "sources.scan_mb": sum(t.input_b for t in src) / 2**20,
            "sources.write_mb": sum(t.output_b for t in src) / 2**20,
            "operators.result_cache.hit_ratio": c["hits"] / max(c["lookups"], 1),
            "operators.result_cache.lookup_s": c["lookup_s"],
        }
        for mod in set(ANALYTICS.values()):
            out[f"{mod}.self_s"] = self_s.get(mod, 0.0)
        out.update(self.corpus.layer_metrics(ctx, evlog))
        out.update(self.sweep.layer_metrics(ctx, evlog))
        return out
