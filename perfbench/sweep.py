"""Backtest-sweep op, part of the research_queries cycle.

One op is one sweep of 40 scenarios (5 symbols x an 8-point sma_cross
grid): ``operators.sweep.run_sweep`` -> ``operators.replay.run_backtest``
-> ``operators.reporting`` roll-ups. The ticks come straight from the
seeded ``events`` table, so the op bypasses ingest and the result cache.

Expectations (planted truth): one result row per scenario, each scenario's
``ticks_processed`` equal to its symbol's planted tick count, and roll-ups
that agree with the per-scenario rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from . import gen
from .harness import Ctx, Op

GRID = {"fast": ["3", "5"], "slow": ["8", "13"], "bar_ms": ["900000", "3600000"]}
SCENARIOS = len(gen.SYMBOLS) * 8
SCENARIO_DDL = (
    "scenario_id int, name string, symbol string, max_ticks int, "
    "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
    "latency_max_ms int, parameters map<string,string>"
)


def tick_frame(spark, events_dir: str):
    """The replay's tick contract over the `events` table, as the registry's
    replay queries project it."""
    from finiextestingide_spark.sources.tables import load_table

    ev = load_table(spark, events_dir, "events")
    return ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )


class Sweep:
    def __init__(self, events_dir: str, ticks_per_symbol: int):
        self.events_dir = events_dir
        # planted: every symbol carries ticks_per_symbol ticks and no
        # scenario caps them, so each scenario replays all of its symbol's
        self.expected_ticks = ticks_per_symbol
        self.fanout_rows = 0

    def _scenarios(self, spark):
        rows = [(i + 1, s, s, None, None, i + 1, 0, 0,
                 {"strategy": "sma_cross", "equity_sample_every": "0"})
                for i, s in enumerate(gen.SYMBOLS)]
        return spark.createDataFrame(rows, SCENARIO_DDL)

    def _sweep(self, ctx: Ctx, events_dir: str, sweep_id: str):
        from finiextestingide_spark.operators import reporting
        from finiextestingide_spark.operators.replay import trades_table
        from finiextestingide_spark.operators.sweep import run_sweep

        spark, tr = ctx.spark, ctx.tracer
        with tr.span("operators.sweep"):
            res = run_sweep(spark, tick_frame(spark, events_dir), self._scenarios(spark),
                            GRID, sweep_id=sweep_id)
        with tr.span("operators.replay"):
            res = res.drop("events", "equity_samples").cache()
            rows = res.select("scenario_id", "base_scenario_id", "ticks_processed",
                              "trades_count").collect()
        try:
            with tr.span("operators.reporting"):
                roll = reporting.portfolio_rollup(res).collect()
                totals = reporting.per_scenario_totals(trades_table(res)).collect()
        finally:
            res.unpersist()
        return rows, roll, totals

    def op(self, i: int) -> Op:
        def run(ctx: Ctx):
            out = self._sweep(ctx, self.events_dir, f"sweep-{i}")
            self.fanout_rows = sum(r["ticks_processed"] for r in out[0])
            return out

        def check(out) -> list[str]:
            rows, roll, totals = out
            bad = []
            if len(rows) != SCENARIOS:
                bad.append(f"{len(rows)} result rows, planted {SCENARIOS} scenarios")
            wrong = [r["scenario_id"] for r in rows if r["ticks_processed"] != self.expected_ticks]
            if wrong:
                bad.append(f"ticks_processed != {self.expected_ticks} for scenarios {wrong[:5]}")
            trades = {r["scenario_id"]: r["trades_count"] for r in rows}
            if len(roll) != 1 or roll[0]["runs"] != SCENARIOS or roll[0]["trades"] != sum(trades.values()):
                bad.append(f"portfolio roll-up {roll} disagrees with {sum(trades.values())} trades")
            mism = [t["scenario_id"] for t in totals if trades.get(t["scenario_id"]) != t["trades"]]
            if mism or len(totals) != sum(1 for v in trades.values() if v):
                bad.append(f"per-scenario totals disagree for scenarios {mism[:5]}")
            return bad

        return Op("sweep", run, check, rows=SCENARIOS * self.expected_ticks)

    def layer_metrics(self, ctx: Ctx, evlog) -> dict:
        from .trace import task_skew

        replay = evlog.by_label("operators.replay") if evlog else []
        self_s = ctx.tracer.self_s()
        return {
            "operators.sweep.self_s": self_s.get("operators.sweep", 0.0),
            "operators.replay.self_s": self_s.get("operators.replay", 0.0),
            "operators.replay.fanout_rows": float(self.fanout_rows),
            "operators.replay.python_mb_in": sum(t.py_sent_b for t in replay) / 2**20,
            "operators.replay.python_mb_out": sum(t.py_recv_b for t in replay) / 2**20,
            "operators.replay.task_skew": task_skew(replay),
            "operators.reporting.self_s": self_s.get("operators.reporting", 0.0),
        }
