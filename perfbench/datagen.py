"""Seeded fixture tables for the ``decode`` workload.

Writes ``documents`` and ``events`` (one single-row-group parquet file
each, with the schemas and value domains of the repository's test
tables) plus ``counts.json``. The decode payloads are pure functions of
``documents.doc_id``, and the Avro split round-trips ``events``; the
registered oracles read the same two files through duckdb. Event values
are on a quarter grid, so sums of them are exact in IEEE doubles and
both engines agree whatever order they sum in.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "events")
_DAY_US = 86_400_000_000
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.45, 0.15, 0.13, 0.13, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window of to in is it on for and"
).split()


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """sf0.01 gives 500 documents and 10,000 events."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    nd, ne = max(int(50_000 * sf), 500), max(int(1_000_000 * sf), 500)
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_VOCAB), k)]) for k in rng.integers(8, 100, nd)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts = np.sort(start_us + rng.integers(0, 30 * _DAY_US, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": rng.integers(1, 1960, ne) / 4.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return {"documents": documents, "events": events}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table and ``counts.json`` (rows per table) under
    ``out_dir``, atomically: a reader sees a complete directory or none."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    tables = build_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    counts = {name: table.num_rows for name, table in tables.items()}
    with open(os.path.join(tmp, "counts.json"), "w") as fh:
        json.dump(counts, fh)
    os.replace(tmp, out_dir)
    return counts
