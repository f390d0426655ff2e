"""Seeded input generators with planted truth (numpy/pyarrow only).

Every generator takes the seed as an argument and produces the same bytes
for the same seed. Row counts are fixed by the generator's constants, never
by the seed, so a run's work is the same size on every seed and only the
values differ. The export feed and the corpus also report the facts they
planted (malformed and re-sent files, tick stamps, exact-duplicate pairs)
so a workload can check the engine's output against them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the `events` schema's event_type values; the registry's time-series
#: queries read them as symbols (asof_purchase_click joins purchase to click)
SYMBOLS = ("click", "view", "purchase", "signup", "error")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000


def price_walk(rng: np.random.Generator, n: int, start: float) -> np.ndarray:
    """Positive log-normal walk rounded to cents, with a few planted
    extreme moves (a 40-step drift burst of 6 sigma per step) when the walk
    is long enough to hold them."""
    steps = rng.normal(0.0, 0.004, n)
    for at in rng.choice(np.arange(100, max(n - 100, 100)), size=4 if n > 400 else 0,
                         replace=False):
        steps[at:at + 40] += rng.choice((-1.0, 1.0)) * 0.024
    return np.maximum(np.round(start * np.exp(np.cumsum(steps)), 2), 0.01)


def tick_times_us(rng: np.random.Generator, n: int, span_us: int,
                  gaps_us: tuple[int, ...]) -> np.ndarray:
    """Sorted microsecond stamps over ``span_us`` with one planted silence
    of each length in ``gaps_us`` (the gap scan's MODERATE/LARGE rows)."""
    quiet = sum(gaps_us)
    t = np.sort(rng.integers(0, span_us - quiet, n))
    for g, at in zip(gaps_us, np.sort(rng.choice(np.arange(n // 10, n - n // 10),
                                                 size=len(gaps_us), replace=False))):
        t[at:] += g
    return t


def write_events(path: str, seed: int, ticks_per_symbol: int, days: int) -> None:
    """`events` table (event_id, ts, user_id, event_type, value, props) whose
    event_type is the symbol and value the price, the mapping every
    registry time-series query and its DuckDB oracle read."""
    rng = np.random.default_rng(seed)
    gaps = (3 * 3_600_000_000, 7 * 3_600_000_000)
    ts, sym, val = [], [], []
    for s in SYMBOLS:
        ts.append(EPOCH_US + tick_times_us(rng, ticks_per_symbol, days * DAY_US, gaps))
        sym.append(np.full(ticks_per_symbol, s, dtype=object))
        val.append(price_walk(rng, ticks_per_symbol, float(rng.uniform(20, 80))))
    ts_all = np.concatenate(ts)
    order = np.argsort(ts_all, kind="stable")
    n = len(ts_all)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_all[order], type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(np.concatenate(sym)[order].tolist(), type=pa.string()),
        "value": pa.array(np.concatenate(val)[order]),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- MQL5 exports --------------------------------------------------------

def _export_doc(symbol: str, t_ms: np.ndarray, mid: np.ndarray) -> dict:
    stamps = np.datetime_as_string(t_ms.astype("datetime64[ms]"), unit="s")
    ticks = [
        {
            "timestamp": s.replace("-", ".").replace("T", " "),
            "time_msc": int(ms),
            "collected_msc": int(ms),
            "bid": round(float(m) - 0.0001, 5),
            "ask": round(float(m) + 0.0001, 5),
            "last": 0.0,
            "tick_volume": 1,
            "real_volume": 1.0,
            "spread_points": 2,
            "spread_pct": 0.01,
            "tick_flags": "BID ASK",
            "session": "x",
        }
        for s, ms, m in zip(stamps, t_ms, mid)
    ]
    return {
        "metadata": {
            "symbol": symbol,
            "broker_type": "mt5",
            "data_collector": "mt5",
            "broker": "bench",
            "broker_utc_offset_hours": 0,
            "start_time": ticks[0]["timestamp"],
            "data_format_version": "1.0",
        },
        "ticks": ticks,
    }


class ExportFeed:
    """Numbered batches of MQL5 JSON exports, one file per (batch, symbol),
    plus a known number of malformed files and of files re-sent from an
    earlier batch. ``batch(i)`` writes batch i and returns its glob and the
    planted counts; ``valid_ms`` keeps the ingested tick stamps so a gap
    expectation can be computed over everything the lake holds."""

    SYMBOLS = ("EURUSD", "GBPUSD", "USDJPY", "XAUUSD")
    MALFORMED = 2   # one missing metadata.symbol, one with an empty ticks array
    DUPLICATES = 1  # one file of the previous batch re-sent

    def __init__(self, root: str, seed: int, ticks_per_file: int):
        self.root = root
        self.seed = seed
        self.ticks_per_file = ticks_per_file
        self.valid_ms: dict[str, list[np.ndarray]] = {s: [] for s in self.SYMBOLS}
        self._files: list[list[str]] = []
        os.makedirs(root, exist_ok=True)

    def batch(self, i: int) -> tuple[str, dict]:
        rng = np.random.default_rng([self.seed, i])
        d = os.path.join(self.root, f"b{i:04d}")
        os.makedirs(d, exist_ok=True)
        names, ticks = [], 0
        span_ms = 6 * 3_600_000
        for s in self.SYMBOLS:
            start = EPOCH_US // 1000 + i * span_ms
            # 1-9 s spacing, one planted 20-minute silence per file
            dt = rng.integers(1_000, 9_000, self.ticks_per_file)
            dt[rng.integers(10, self.ticks_per_file - 10)] = 1_200_000
            t_ms = start + np.cumsum(dt)
            mid = price_walk(rng, self.ticks_per_file, 1.1 + rng.uniform(0, 1))
            name = f"{s}_{i:04d}.json"
            with open(os.path.join(d, name), "w") as f:
                json.dump(_export_doc(s, t_ms, mid), f)
            # detect_gaps reads the second-resolution timestamp column
            self.valid_ms[s].append((t_ms // 1000) * 1000)
            names.append(name)
            ticks += self.ticks_per_file
        bad = _export_doc("EURUSD", np.array([EPOCH_US // 1000]), np.array([1.0]))
        no_symbol = json.loads(json.dumps(bad))
        del no_symbol["metadata"]["symbol"]
        empty = dict(bad, ticks=[])
        for name, doc in (("bad_nosymbol.json", no_symbol), ("bad_empty.json", empty)):
            with open(os.path.join(d, name), "w") as f:
                json.dump(doc, f)
        self._files.append(names)
        parts = [f"b{i:04d}/*.json"]
        dupes = 0
        if i > 0:
            parts.append(f"b{i - 1:04d}/{self._files[i - 1][0]}")
            dupes = self.DUPLICATES
        glob = os.path.join(self.root, "{" + ",".join(parts) + "}")
        return glob, {
            "ticks_written": ticks,
            "files_rejected": self.MALFORMED,
            "files_duplicate": dupes,
        }

    def expected_gaps(self, interval_ms: int) -> tuple[int, int]:
        """(count, summed gap_ms) of inter-tick gaps > 2 x interval over
        every valid file ingested so far, per symbol, as detect_gaps sees
        them."""
        n = total = 0
        for parts in self.valid_ms.values():
            if not parts:
                continue
            t = np.sort(np.concatenate(parts))
            d = np.diff(t)
            big = d[d > 2 * interval_ms]
            n += len(big)
            total += int(big.sum())
        return n, total


# --- corpus ---------------------------------------------------------------

_VOCAB = np.array(
    "the a of and to in is for on with as by at from that this it be are was "
    "spark tick bar order price trade market data query join scan window agg "
    "stream batch table column value key hash group filter merge sort row line "
    "fast slow small big model token corpus score quality filter dedup shard".split()
)
_LANGS = ("en", "en", "en", "de", "fr", "es")


def write_corpus(path: str, seed: int, n_docs: int) -> dict[int, int]:
    """`documents` table (doc_id, text, lang, source, n_chars) with planted
    exact duplicates (copies that differ only in case and punctuation, which
    normalise to the same content hash) and near duplicates (a copy with a
    few words swapped at the end). Returns planted copy id -> source id for
    the exact duplicates."""
    rng = np.random.default_rng(seed)
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_base = n_docs - n_exact - n_near
    texts = []
    for _ in range(n_base):
        words = _VOCAB[rng.integers(0, len(_VOCAB), rng.integers(40, 120))]
        texts.append(" ".join(words))
    exact_src = rng.choice(n_base, n_exact, replace=False)
    for j in exact_src:
        texts.append(texts[j].upper() + " !")
    near_src = rng.choice(np.setdiff1d(np.arange(n_base), exact_src), n_near, replace=False)
    for j in near_src:
        w = texts[j].split()
        for k in rng.choice(len(w) // 2, 3, replace=False) + len(w) // 2:
            w[k] = str(_VOCAB[rng.integers(0, len(_VOCAB))])
        texts.append(" ".join(w))
    perm = rng.permutation(n_docs)
    texts = [texts[p] for p in perm]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    # doc ids after the shuffle
    pos = np.empty(n_docs, dtype=np.int64)
    pos[perm] = np.arange(n_docs)
    return {int(pos[n_base + k]): int(pos[j]) for k, j in enumerate(exact_src)}


def write_embeddings(path: str, seed: int, n: int, dim: int = 64, labels: int = 10) -> None:
    """`embeddings` table (vec_id, embedding, label): unit vectors, of which
    a tenth are planted near duplicates (a same-label copy plus small
    noise, cosine ~0.99)."""
    rng = np.random.default_rng(seed)
    n_near = n // 10
    v = rng.normal(size=(n, dim))
    lab = rng.integers(0, labels, n).astype(np.int32)
    src = rng.choice(n - n_near, n_near, replace=False)
    v[n - n_near:] = v[src] + rng.normal(scale=0.05, size=(n_near, dim))
    lab[n - n_near:] = lab[src]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(lab),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
