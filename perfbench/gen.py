"""Seeded input generator for the benchmark workloads.

Everything the engine sees is built here from one integer seed: the
``events`` table (click dashboard) and the Debezium-shaped CDC
envelopes (upsert stream). The same seed gives byte-identical files.
Schemas and literals follow the engine's test tables: ``props`` is
``{"k": <doc key>}``, event types are view/click/purchase/signup/error,
values are whole cents, and the envelope payload is a ``documents`` row
plus a version.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Shape constants. The why of each lives in BENCHMARK.json's workload notes.

#: click dashboard: events table size, users, doc keys, multi-day span
N_EVENTS = 20_000
N_USERS = 2_000
N_DOC_KEYS = 100
EVENT_DAYS = 30
#: Zipf exponents: a few heavy users and hot documents
USER_ZIPF = 1.1
DOC_ZIPF = 1.2
#: funnel-shaped sessions: next-step probabilities after a view
FUNNEL = (("view", 0.45), ("click", 0.30), ("purchase", 0.12),
          ("signup", 0.08), ("error", 0.05))
MEAN_SESSION_EVENTS = 6
MEAN_GAP_S = 120

#: CDC upsert: fixed key space pre-filled as state, hot-key skew,
#: op mix and the share of envelopes that arrive after a newer version
KEY_SPACE = 10_000
KEY_ZIPF = 1.05
OP_MIX = (("u", 0.80), ("c", 0.10), ("d", 0.10))
OUT_OF_ORDER_SHARE = 0.05
ENVELOPES_PER_FILE = 20
#: open-loop offered rate, in envelope files per second (constant)
OFFERED_FILES_PER_S = 15
#: files drained as the set-up's warm-up, and as the capacity backlog
#: (10 micro-batches of ``FILES_PER_TRIGGER``, so its median is steady)
WARM_FILES = 20
BACKLOG_FILES = 100

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = (("en", 0.4), ("zh", 0.15), ("fr", 0.15), ("es", 0.15), ("de", 0.15))
SOURCES = ("src0", "src1", "src2", "src3")
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_BASE_MS = TS_BASE_US // 1000


def _zipf(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from a Zipf(s) law bounded to ``0..n-1``."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _pick(rng: np.random.Generator, table, size: int) -> list:
    names = [n for n, _ in table]
    p = np.array([w for _, w in table])
    return [names[i] for i in rng.choice(len(names), size=size, p=p / p.sum())]


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    words = rng.integers(0, len(VOCAB), size=int(rng.integers(lo, hi)))
    return " ".join(VOCAB[i] for i in words)


# ---------------------------------------------------------------------------
# click dashboard


def events_table(seed: int) -> pa.Table:
    """Sessions of Zipf users over ``EVENT_DAYS`` days: each session
    opens with a view and walks the funnel, events a few minutes
    apart (well inside the 30-minute session gap)."""
    rng = np.random.default_rng([seed, 1])
    n_events = N_EVENTS
    # twice the expected session count: the loop below stops at n_events
    n_sessions = 2 * n_events // MEAN_SESSION_EVENTS + 10
    users = _zipf(rng, N_USERS, USER_ZIPF, n_sessions)
    starts = rng.integers(0, EVENT_DAYS * 86_400_000_000, size=n_sessions)
    lengths = rng.geometric(1.0 / MEAN_SESSION_EVENTS, size=n_sessions)
    user_ids, ts, types = [], [], []
    for u, t0, n in zip(users, starts, lengths):
        gaps = rng.exponential(MEAN_GAP_S * 1e6, size=n)
        gaps[0] = 0
        steps = ["view"] + _pick(rng, FUNNEL, n - 1)
        for t, step in zip(t0 + np.cumsum(gaps).astype(np.int64), steps):
            user_ids.append(int(u))
            ts.append(int(t))
            types.append(step)
        if len(ts) >= n_events:
            break
    user_ids, ts, types = user_ids[:n_events], ts[:n_events], types[:n_events]
    keys = _zipf(rng, N_DOC_KEYS, DOC_ZIPF, n_events)
    cents = rng.integers(1, 50_000, size=n_events)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.array(ts) + TS_BASE_US, pa.timestamp("us")),
            "user_id": pa.array(user_ids, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(cents / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in keys]),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# CDC envelopes


class CdcStream:
    """Deterministic Debezium envelope sequence over a fixed key space.

    ``prefill()`` holds version 1 of every key; every later envelope
    bumps its key's version and takes the next ``ts_ms`` tick, so
    (version, ts_ms) is unique per key and last-write-wins has one
    answer. ``files(n)`` cuts the next envelopes into ``n`` files of
    ``ENVELOPES_PER_FILE`` each; ``OUT_OF_ORDER_SHARE`` of them are
    moved 1-3 files later, behind a newer version of their key.
    Deletes carry ``after = null`` (the pipeline drops them)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.key_space = KEY_SPACE
        self.per_file = ENVELOPES_PER_FILE
        self.version = np.ones(KEY_SPACE, dtype=np.int64)
        self.tick = 0
        self.last: list[dict] = []

    def _payload(self, key: int, version: int) -> dict:
        text = _text(self.rng, 10, 60)
        return {
            "doc_id": key,
            "text": text,
            "lang": _pick(self.rng, LANGS, 1)[0],
            "source": SOURCES[key % len(SOURCES)],
            "n_chars": len(text),
            "version": version,
        }

    def _envelope(self, op: str, before, after) -> dict:
        self.tick += 1
        return {
            "op": op,
            "before": before,
            "after": after,
            "src_table": "documents",
            "ts_ms": TS_BASE_MS + self.tick,
        }

    def prefill(self) -> list[dict]:
        self.last = [self._payload(k, 1) for k in range(self.key_space)]
        return [self._envelope("c", None, p) for p in self.last]

    def files(self, n_files: int) -> list[list[dict]]:
        n = n_files * self.per_file
        keys = _zipf(self.rng, self.key_space, KEY_ZIPF, n)
        ops = _pick(self.rng, OP_MIX, n)
        delays = np.where(
            self.rng.random(n) < OUT_OF_ORDER_SHARE,
            self.rng.integers(1, 4, size=n), 0,
        )
        out: list[list[dict]] = [[] for _ in range(n_files)]
        for i, (key, op, delay) in enumerate(zip(keys, ops, delays)):
            key = int(key)
            self.version[key] += 1
            before = self.last[key]
            if op == "d":
                env = self._envelope(op, before, None)
            else:
                after = self._payload(key, int(self.version[key]))
                env = self._envelope(op, None if op == "c" else before, after)
                self.last[key] = after
            out[min(i // self.per_file + int(delay), n_files - 1)].append(env)
        return out


def render(envelopes: list[dict]) -> bytes:
    """One JSON envelope per line, as a Kafka-less Debezium sink writes."""
    return "".join(json.dumps(e) + "\n" for e in envelopes).encode()


def write_file(data: bytes, path: str) -> None:
    """Write ``data`` under a hidden name, then rename it into place, so
    a file stream never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)


def envelope_rows(envelopes: list[dict]) -> pa.Table:
    """Flat (op, ts_ms, after.*) rows for the DuckDB oracle."""
    cols = ("doc_id", "text", "lang", "source", "n_chars", "version")
    rows = {c: [] for c in ("op", "ts_ms") + cols}
    for e in envelopes:
        after = e["after"] or {}
        rows["op"].append(e["op"])
        rows["ts_ms"].append(e["ts_ms"])
        for c in cols:
            rows[c].append(after.get(c))
    return pa.table(
        {
            "op": pa.array(rows["op"], pa.string()),
            "ts_ms": pa.array(rows["ts_ms"], pa.int64()),
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "source": pa.array(rows["source"], pa.string()),
            "n_chars": pa.array(rows["n_chars"], pa.int64()),
            "version": pa.array(rows["version"], pa.int32()),
        }
    )
