"""Seeded event generator for the ``stream`` workload.

Each call to :func:`make_file` produces one file of kafka-relation-shaped
records (the ``KAFKA_RELATION_DDL`` columns, JSON values) for file index
``j``. Event time is synthetic: file ``j`` covers event-time second
``[j, j + 1)`` from ``BASE_MS``, whatever the wall clock does. Per file:

- ``user_id`` is Zipf-skewed over ``USERS`` keys;
- about 2% of records repeat an earlier ``event_id`` (with the same
  event time and value) from this file or the previous one;
- about 1% (from file ``LATE_FROM`` on) are late: their event time lies
  an hour before the first file's, in windows no on-time event shares.
  One file per micro-batch drops every one of them (the watermark trails
  the newest event by ``WATERMARK_S``, and Spark filters late rows with
  the previous batch's watermark); under any batching, the on-time
  windows stay exact.

Run as a script it is the open-loop producer: it writes file ``j`` when
``start + j * interval`` comes due, stamping each record's ``gen_ms``
with the time it was due to be created, so a stall in the consumer never
slows the offered load.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
USERS = 20_000
ZIPF_S = 1.1
WINDOW_S = 2
WATERMARK_S = 1
DUP_RATE = 0.02
LATE_RATE = 0.01
LATE_FROM = 3  # no late events in the files before any watermark exists
LATE_BASE_MS = BASE_MS - 3_600_000

_ranks = np.arange(1, USERS + 1, dtype=np.float64) ** -ZIPF_S
_USER_P = _ranks / _ranks.sum()

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us")),
    ("timestampType", pa.int32()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
])


def _base(seed: int, j: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, j])
    ts = BASE_MS + j * 1000 + rng.integers(0, 1000, n)
    late = np.zeros(n, dtype=bool)
    if j >= LATE_FROM:
        late = rng.random(n) < LATE_RATE
        ts = np.where(late, LATE_BASE_MS + rng.integers(0, 1000, n), ts)
    return {
        "event_id": j * n + np.arange(n, dtype=np.int64),
        "user_id": rng.choice(USERS, n, p=_USER_P).astype(np.int64),
        "ts_ms": ts,
        "value": rng.integers(1, 4000, n) / 4.0,
        "late": late,
    }


def make_file(seed: int, j: int, n: int) -> dict[str, np.ndarray]:
    """Events of file ``j``: columns ``event_id``, ``user_id``, ``ts_ms``,
    ``value`` and the oracle-only mask ``late`` (the pipeline never sees
    it). ``event_id`` blocks are disjoint per file; a duplicate repeats an
    on-time record of this file or of file ``j - 1``, so every copy of an
    id is identical and the oracle keeps one row per id."""
    ev = _base(seed, j, n)
    prev = _base(seed, j - 1, n) if j > 0 else None
    rng = np.random.default_rng([seed, j, 1])
    for i in np.flatnonzero((rng.random(n) < DUP_RATE) & ~ev["late"])[1:]:
        src = prev if prev is not None and rng.random() < 0.5 else ev
        k = int(rng.integers(0, n if src is prev else i))
        if src["late"][k]:
            continue
        for c in ("event_id", "user_id", "ts_ms", "value"):
            ev[c][i] = src[c][k]
    return ev


def kafka_table(ev: dict[str, np.ndarray], gen_ms: np.ndarray, offset0: int) -> pa.Table:
    n = len(ev["event_id"])
    values = [
        json.dumps({"event_id": int(e), "user_id": int(u), "ts_ms": int(t),
                    "value": float(v), "gen_ms": int(g)}).encode()
        for e, u, t, v, g in zip(ev["event_id"], ev["user_id"], ev["ts_ms"], ev["value"], gen_ms)
    ]
    return pa.table({
        "key": pa.array([str(u).encode() for u in ev["user_id"]], pa.binary()),
        "value": pa.array(values, pa.binary()),
        "topic": pa.array(["events"] * n),
        "partition": pa.array(np.zeros(n, np.int32)),
        "offset": pa.array(offset0 + np.arange(n, dtype=np.int64)),
        "timestamp": pa.array(((ev["ts_ms"]) * 1000).astype(np.int64), pa.timestamp("us")),
        "timestampType": pa.array(np.zeros(n, np.int32)),
        "headers": pa.array([[]] * n, KAFKA_SCHEMA.field("headers").type),
    }, schema=KAFKA_SCHEMA)


def write_file(topic_dir: str, j: int | str, table: pa.Table) -> None:
    """Atomic publish: the file source ignores names starting with '.'."""
    name = f"part-{j:05d}.parquet" if isinstance(j, int) else f"{j}.parquet"
    tmp = os.path.join(topic_dir, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(topic_dir, name))


def stage_backlog(topic_dir: str, seed: int, files: int, n: int) -> None:
    """Write ``files`` files at once (gen_ms = now): the drain backlog."""
    os.makedirs(topic_dir, exist_ok=True)
    now = int(time.time() * 1000)
    for j in range(files):
        ev = make_file(seed, j, n)
        write_file(topic_dir, j, kafka_table(ev, np.full(n, now), j * n))


def write_priming_file(topic_dir: str, seed: int, n: int) -> None:
    """One small file whose events lie ten minutes before ``BASE_MS``,
    with negative ids: it lets a query plan and initialise its state
    before the first measured file, in windows no measured event shares."""
    os.makedirs(topic_dir, exist_ok=True)
    ev = _base(seed, 1 << 30, n)  # a file index no measured file uses
    ev["event_id"] = -1 - np.arange(n, dtype=np.int64)
    ev["ts_ms"] = BASE_MS - 600_000 + np.arange(n, dtype=np.int64)
    now = int(time.time() * 1000)
    write_file(topic_dir, "prime", kafka_table(ev, np.full(n, now), 0))


def open_loop(topic_dir: str, seed: int, rate: float, interval: float, seconds: float,
              start: float) -> list[float]:
    """Write one file every ``interval`` s at ``rate`` events/s from wall
    time ``start``; return how late each file was published (ms)."""
    os.makedirs(topic_dir, exist_ok=True)
    n = max(int(rate * interval), 1)
    lateness = []
    for j in range(int(seconds / interval)):
        due = start + (j + 1) * interval
        ev = make_file(seed, j, n)
        # record i is due at an even spacing over the file's interval
        gen_ms = ((start + j * interval + (np.arange(n) + 1) * interval / n) * 1000).astype(np.int64)
        table = kafka_table(ev, gen_ms, j * n)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_file(topic_dir, j, table)
        lateness.append(max(time.time() - due, 0.0) * 1000)
    return lateness


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    lateness = open_loop(a.topic, a.seed, a.rate, a.interval, a.seconds, a.start)
    with open(a.report, "w") as fh:
        json.dump({"late_ms": lateness}, fh)


if __name__ == "__main__":
    main()
