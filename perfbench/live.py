"""live_autotrader: open loop at a fixed tick rate.

A generator thread in this process serves seeded ticks over one TCP socket,
each line sent at its due time whether or not the engine keeps up (200
ticks/s over 16 symbols). Event time is the tick's due time on the feed's
own clock. The pipeline is ``streaming.live_source.read_socket_ticks`` ->
``streaming.live_replay.live_backtest`` (sma_cross on 125 ms bars) -> a
``foreachBatch`` sink that stamps each trade row's delivery time. A trade's
latency runs from the due time of the tick that closed it to its delivery.

``input_rows_per_s`` is the ticks consumed over the feed's wall. A
micro-batch here costs about 1 s whether it holds 100 or 3,000 ticks, so
the engine does not saturate at this rate and the figure follows the feed;
it falls only once the engine saturates (``streaming.backlog_ticks`` then
grows). ``streaming.batch_ms_p50`` is the per-layer figure that tracks
engine speed.

Expectations: trade-for-trade parity with ``operators.replay.run_backtest``
over the recorded feed, minus the END closes a live session never makes.
Each expected trade is one op; a missing, different or extra trade fails.
"""

from __future__ import annotations

import os
import socket
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from . import gen, host
from .harness import RERUNS_PER_OP, Ctx, Measurement, Workload, contended, log, percentile

RATE = 200
SYMBOLS = [f"S{k:02d}" for k in range(16)]
DT_US = 1_000_000 // RATE
PARAMS = {"strategy": "sma_cross", "fast": "3", "slow": "8", "bar_ms": "125",
          "equity_sample_every": "0"}
#: seconds to wait, after the last tick was due, for the engine to deliver
DRAIN_S = 40
WARM_TICKS = 3000
TRADE_COLS = ("trade_id", "direction", "lots", "entry_us", "entry_price", "exit_us",
              "exit_price", "gross_pnl", "fees", "net_pnl", "mae_pnl", "mfe_pnl",
              "mae_price", "mfe_price", "exit_reason")


def make_feed(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """(symbol index, mid, wire lines) of ``n`` ticks; tick k's event time
    is EPOCH + k * DT_US."""
    rng = np.random.default_rng(seed)
    sym = rng.integers(0, len(SYMBOLS), n)
    mid = np.empty(n)
    for s in range(len(SYMBOLS)):
        idx = np.flatnonzero(sym == s)
        mid[idx] = gen.price_walk(rng, len(idx), float(rng.uniform(20, 80))) if len(idx) > 200 \
            else np.round(rng.uniform(20, 80, len(idx)), 2)
    from finiextestingide_spark.streaming.live_source import tick_line

    lines = [tick_line(SYMBOLS[s], gen.EPOCH_US + k * DT_US, float(m), 1.0, k)
             for k, (s, m) in enumerate(zip(sym, mid))]
    return sym, mid, lines


def trade_rows(df):
    """The trade columns compared live vs batch, timestamps as epoch µs."""
    return df.select(
        "symbol", "trade_id", "direction", "lots",
        F.unix_micros("entry_ts").alias("entry_us"), "entry_price",
        F.unix_micros("exit_ts").alias("exit_us"), "exit_price", "gross_pnl", "fees",
        "net_pnl", "mae_pnl", "mfe_pnl", "mae_price", "mfe_price", "exit_reason",
    )


class Feed:
    """One TCP connection; lines go out at their due times on a thread,
    whether or not the reader keeps up."""

    def __init__(self, lines: list[str], rate: float | None):
        self.lines = lines
        self.rate = rate
        self.lag: list[float] = []
        self.wall0 = 0.0
        self.done = threading.Event()
        self._stop = threading.Event()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(1)
        self._sock.settimeout(120)
        self.port = self._sock.getsockname()[1]
        self._conn = None
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _serve(self) -> None:
        try:
            self._conn, _ = self._sock.accept()
        except OSError:
            return
        self.wall0 = time.time() + 0.05
        k, n = 0, len(self.lines)
        try:
            while k < n and not self._stop.is_set():
                now = time.time()
                due_k = n if self.rate is None else min(n, int((now - self.wall0) * self.rate) + 1)
                if due_k <= k:
                    time.sleep(min(0.002, self.wall0 + k / self.rate - now))
                    continue
                self._conn.sendall(("\n".join(self.lines[k:due_k]) + "\n").encode())
                sent = time.time()
                if self.rate is not None:
                    self.lag.append(sent - (self.wall0 + (due_k - 1) / self.rate))
                k = due_k
        except OSError:
            return
        finally:
            self.done.set()

    def due(self, tick: int) -> float:
        return self.wall0 + tick / self.rate

    def close(self) -> None:
        self._stop.set()
        for s in (self._conn, self._sock):
            if s is not None:
                try:
                    s.close()
                except OSError:
                    pass
        self._thread.join()


class Live(Workload):
    name = "live_autotrader"

    def generate(self, seed: int, work: str, seconds: float) -> None:
        self.n = int(RATE * seconds)
        self.sym, self.mid, self.lines = make_feed(seed, self.n)
        _, _, self.warm_lines = make_feed(seed + 1, WARM_TICKS)
        self.queries_started = 0

    def oracle(self, ctx: Ctx) -> None:
        from finiextestingide_spark.operators.replay import run_backtest, trades_table

        spark = ctx.spark
        k = np.arange(self.n)
        ts_us = gen.EPOCH_US + k * DT_US
        pdf = {
            "symbol": [SYMBOLS[s] for s in self.sym],
            "ts_us": ts_us.tolist(),
            "tick_seq": k.tolist(),
            "mid": self.mid.tolist(),
        }
        ticks = spark.createDataFrame(pd.DataFrame(pdf)).select(
            "symbol",
            F.timestamp_micros("ts_us").alias("timestamp"),
            (F.col("ts_us") / 1000).cast("long").alias("time_msc"),
            (F.col("ts_us") / 1000).cast("long").alias("collected_msc"),
            "tick_seq",
            (F.col("mid") - 0.005).alias("bid"),
            (F.col("mid") + 0.005).alias("ask"),
        )
        scen = spark.createDataFrame(
            [(i + 1, s, s, None, None, i + 1, 0, 0, PARAMS) for i, s in enumerate(SYMBOLS)],
            "scenario_id int, name string, symbol string, max_ticks int, "
            "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
            "latency_max_ms int, parameters map<string,string>",
        )
        sym_of = F.element_at(
            F.create_map(*[F.lit(x) for i, s in enumerate(SYMBOLS) for x in (i + 1, s)]),
            F.col("scenario_id"),
        )
        trades = trades_table(run_backtest(ticks, scen)).where(F.col("exit_reason") != "END")
        rows = trade_rows(trades.withColumn("symbol", sym_of)).collect()
        self.expected = {(r["symbol"], r["trade_id"]): tuple(r[c] for c in TRADE_COLS)
                         for r in rows}

    def warmup(self, ctx: Ctx) -> None:
        self._stream(ctx, self.warm_lines, None)

    def _stream(self, ctx: Ctx, lines: list[str], rate: float | None):
        """Run the live pipeline over ``lines``; returns (delivered trade
        rows with their delivery stamps, feed, query progress, end time)."""
        from finiextestingide_spark.streaming.live_replay import live_backtest
        from finiextestingide_spark.streaming.live_source import read_socket_ticks

        spark = ctx.spark
        delivered: list[tuple[float, dict]] = []
        lock = threading.Lock()

        def sink(batch, _batch_id) -> None:
            rows = trade_rows(batch).collect()
            stamp = time.time()
            with lock:
                delivered.extend((stamp, r.asDict()) for r in rows)

        feed = Feed(lines, rate)
        feed.start()
        raw = read_socket_ticks(spark, "127.0.0.1", feed.port)
        ticks = raw.select(
            "symbol",
            F.col("ts").alias("timestamp"),
            F.unix_millis(F.col("ts")).alias("time_msc"),
            F.col("seq").alias("tick_seq"),
            (F.col("mid") - 0.005).alias("bid"),
            (F.col("mid") + 0.005).alias("ask"),
        )
        self.queries_started += 1
        ckpt = os.path.join(ctx.work, f"checkpoint-{self.queries_started}")
        with ctx.tracer.span("streaming"):
            q = (live_backtest(ticks, PARAMS).writeStream.foreachBatch(sink)
                 .outputMode("append").option("checkpointLocation", ckpt).start())
        try:
            n = len(lines)
            deadline = None
            consumed_at = None
            while True:
                progress = q.recentProgress
                seen = sum(p["numInputRows"] for p in progress)
                if seen >= n:
                    consumed_at = batch_end(progress, n)
                    break
                if feed.done.is_set():
                    deadline = deadline or time.time() + DRAIN_S
                    if time.time() > deadline:
                        break
                if q.exception() is not None:
                    raise q.exception()
                time.sleep(0.05)
            # every batch up to the one that consumed the last tick has run
            # its sink by the time it reports progress
            progress = q.recentProgress
        finally:
            q.stop()
            q.awaitTermination(60)
            feed.close()
        with lock:
            got = list(delivered)
        return got, feed, progress, consumed_at

    def measure(self, ctx: Ctx, seconds: float) -> Measurement:
        """One feed of ``seconds``. A feed that passed parity but ran while
        the host was contended runs again, within the harness's re-run
        limit; a feed with any failure always counts."""
        m = Measurement()
        probe = host.Probe()
        for attempt in range(1 + RERUNS_PER_OP):
            probe.start()
            got, feed, progress, consumed_at = self._stream(ctx, self.lines, RATE)
            reading = probe.stop()
            m.attempted, m.failed, m.problems = self._score([r for _, r in got])
            if m.failed or not contended(reading) or attempt == RERUNS_PER_OP:
                break
            m.reruns += 1
            log(f"re-run the feed: steal {reading.steal_share:.3f}, "
                f"co-tenant {reading.cotenant_cores:.2f} cores")
        end = consumed_at or time.time()
        m.readings.append(reading)
        m.windows_ms.append((int(feed.wall0 * 1000), int(end * 1000)))
        m.rows = self.n if consumed_at else sum(p["numInputRows"] for p in progress)
        m.op_wall = end - feed.wall0
        m.latencies = [stamp - feed.due((r["exit_us"] - gen.EPOCH_US) // DT_US) for stamp, r in got]
        if m.failed:
            log("FAILED " + "; ".join(m.problems)[:500])
        m.extra["delivered"] = [r for _, r in got]
        busy = [p for p in progress if p["numInputRows"]]
        log(f"{len(busy)} batches, rows {[p['numInputRows'] for p in busy]}, ms "
            f"{[p['durationMs'].get('triggerExecution') for p in busy]}")
        feed_end = feed.wall0 + self.n / RATE
        consumed_by_end = sum(p["numInputRows"] for p in progress
                              if batch_end_time(p) <= feed_end)
        m.extra.update({
            "harness.generator_lag_p99_s": percentile(feed.lag, 99) if feed.lag else 0.0,
            "backlog_ticks": self.n - consumed_by_end,
        })
        return m

    def _score(self, got: list[dict]) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems): every delivered trade must equal
        its batch twin, once; every batch trade must be delivered."""
        failed, problems, seen = 0, [], set()
        for r in got:
            key = (r["symbol"], r["trade_id"])
            want, have = self.expected.get(key), tuple(r[c] for c in TRADE_COLS)
            if want is None or key in seen or want != have:
                failed += 1
                problems.append(f"trade {key}: live {have} vs batch {want}")
            seen.add(key)
        missing = [k for k in self.expected if k not in seen]
        if missing:
            failed += len(missing)
            problems.append(f"{len(missing)} batch trades never delivered, e.g. {missing[:3]}")
        return len(got) + len(missing), failed, problems

    def self_check(self, m: Measurement) -> bool:
        """A delivered trade with its exit price changed must fail parity."""
        got = m.extra["delivered"]
        bad = [dict(got[0], exit_price=got[0]["exit_price"] + 1.0), *got[1:]] if got else []
        caught = bool(got) and self._score(bad)[1] > self._score(got)[1]
        log(f"self-check: corrupted one delivered trade, counted as failed: {caught}")
        return caught

    def layer_metrics(self, ctx: Ctx, evlog) -> dict:
        return {}  # the streaming block comes from the listener


def batch_end_time(p: dict) -> float:
    """Wall time (epoch s) a micro-batch finished, from its progress."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


def batch_end(progress: list[dict], n: int) -> float:
    """When the micro-batch that brought the consumed count to ``n`` ended."""
    seen = 0
    for p in progress:
        seen += p["numInputRows"]
        if seen >= n:
            return batch_end_time(p)
    return time.time()
