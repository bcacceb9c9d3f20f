"""State-v2 operators (Spark 4 ``transformWithStateInPandas``).

The DIRECT answer to the reference's state primitives
(`taskmanager/state/`: ValueState/ListState dicts pickled into RocksDB
on checkpoint): typed, named state handles (``getValueState`` /
``getListState`` / ``getMapState``), per-state TTL, and event/processing
-time timers, persisted in the RocksDB state store provider that
``transformWithState`` requires. Where ``keyed_process``
(applyInPandasWithState) reproduces the reference's schema-free
state-dict CONTRACT, this module uses the modern engine surface the
reference's RocksDB backend was reaching for.

Scale: state is partitioned by key in the executor-local RocksDB
instances (changelog-checkpointed to the checkpoint location) — no
driver state, no full-store rewrite per batch, per-key TTL eviction
handled by the store itself.

STATE STORE: ``transformWithState`` runs only on the RocksDB provider,
which Spark reads from the session conf when a query starts. The
builders leave the session alone: callers build and start the query
under ``scoped_conf(spark, STATE_V2_CONF)`` (session.py), so other
stateful queries on the session keep its default store.

RUNTIME: executing a transformWithState query needs the Python
``protobuf`` runtime (the state-server wire protocol). Where the real
package is absent (this container), ``ensure_state_v2_runtime``
activates the vendored minimal runtime
(``stream_processing_platform_spark/_vendor/google/protobuf`` — a
pure-Python implementation of exactly the wire-format subset pyspark's
generated ``StateMessage_pb2`` exercises; see its module docstring) on
the driver via sys.path and on the Python workers via
``SparkContext.addPyFile``. With the real protobuf installed the shim
is never activated.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
STATE_V2_CONF = {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}

_VENDOR_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_vendor")
_shipped_to_workers = False


def _protobuf_runtime_kind() -> str | None:
    """None (absent) | 'real' (installed package) | 'shim' (our vendored
    minipb already on sys.path). The distinction matters: once the shim
    is importable on the DRIVER (e.g. a pytest skipif probed it at
    import time), a bare importability check would wrongly conclude the
    workers have protobuf too and skip shipping the shim to them."""
    try:
        import google.protobuf as gp
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return None
    return "shim" if getattr(gp, "__version__", "").endswith("minipb-shim") else "real"


def ensure_state_v2_runtime(spark=None) -> bool:
    """Make a protobuf runtime available for transformWithState; returns
    True when one is usable. Prefers an installed ``google.protobuf``;
    falls back to the vendored minipb shim — added to the driver's
    sys.path, and (when a live session is passed) zipped and shipped to
    the Python workers with ``addPyFile`` so the state-server client
    can import it inside UDF execution."""
    global _shipped_to_workers
    kind = _protobuf_runtime_kind()
    if kind is None:
        if _VENDOR_DIR not in sys.path:
            sys.path.insert(0, _VENDOR_DIR)
        kind = _protobuf_runtime_kind()
        if kind is None:  # pragma: no cover — vendor dir missing
            return False
    if spark is not None and kind == "shim" and not _shipped_to_workers:
        import tempfile
        import zipfile

        sc = spark.sparkContext
        # Task workers AND the transformWithState *driver worker* (a
        # separate python process the JVM spawns for state-schema
        # validation) both get their sys.path from the PythonFunction's
        # env map — seed PYTHONPATH there with the vendor dir.
        prev = sc.environment.get("PYTHONPATH")
        sc.environment["PYTHONPATH"] = (
            _VENDOR_DIR if not prev else f"{_VENDOR_DIR}{os.pathsep}{prev}"
        )
        # Belt-and-suspenders for executors without this filesystem
        # (real cluster, no protobuf): ship the shim as a py-file too.
        zip_path = os.path.join(
            tempfile.mkdtemp(prefix="spp_minipb_"), "minipb_google_shim.zip"
        )
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(os.path.join(_VENDOR_DIR, "google")):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, _VENDOR_DIR))
        sc.addPyFile(zip_path)
        _shipped_to_workers = True
    return True


def requires_state_v2_runtime() -> bool:
    """True when a protobuf runtime for the transformWithState state
    server is available (installed, or the vendored minipb shim)."""
    return ensure_state_v2_runtime(None)


class RunningStatsProcessor(StatefulProcessor):
    """Per-key running (count, total, min, max) in a typed ValueState —
    the canonical state-primitive demo: one named handle, updated per
    batch, emitted per update (update output mode).

    ``ttl_ms`` > 0 turns on per-state TTL: a key idle longer than the
    TTL restarts its stats from zero — the reference's state-eviction
    knob, handled by the store, not user code.
    """

    def __init__(self, value_col: str = "value", ttl_ms: int | None = None):
        self._value_col = value_col
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._stats = handle.getValueState(
            "stats", "cnt long, total double, mn double, mx double", self._ttl_ms
        )

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        prev = self._stats.get() if self._stats.exists() else None
        cnt, total, mn, mx = prev if prev is not None else (0, 0.0, None, None)
        for pdf in rows:
            vs = pdf[self._value_col]
            if len(vs) == 0:
                continue
            cnt += int(len(vs))
            total += float(vs.sum())
            bmn, bmx = float(vs.min()), float(vs.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        self._stats.update((cnt, total, mn, mx))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "cnt": [cnt],
                "total": [total],
                "mn": [mn],
                "mx": [mx],
            }
        )


def running_stats(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key running stats via transformWithState. Output columns:
    (key, cnt, total, mn, mx); use update output mode — the last emitted
    row per key is the final state.

    Spark only allows state TTL under ``TimeMode.ProcessingTime`` (it
    raises STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL
    otherwise), so requesting ``ttl_ms`` switches the time mode.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return (
        df.groupBy(key_col)
        .transformWithStateInPandas(
            RunningStatsProcessor(value_col, ttl_ms),
            outputStructType="key long, cnt long, total double, mn double, mx double",
            outputMode="Update",
            timeMode="ProcessingTime" if ttl_ms is not None else "None",
        )
    )


class TypeCountsProcessor(StatefulProcessor):
    """Per-key MapState demo (reference MapState,
    state_types.py:116-215): a map of category -> running count per
    grouping key, updated per batch via getValue/updateValue and emitted
    by iterating the map — one (key, category, n) row per live map
    entry. Update output mode; the last emission per (key, category) is
    the final count."""

    def __init__(self, cat_col: str = "event_type"):
        self._cat_col = cat_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState("counts", "cat string", "n long")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        for pdf in rows:
            if len(pdf) == 0:
                continue
            for cat, cnt in pdf.groupby(self._cat_col).size().items():
                prev = self._counts.getValue((cat,))
                self._counts.updateValue(
                    (cat,), ((0 if prev is None else int(prev[0])) + int(cnt),)
                )
        cats, ns = [], []
        for (cat,), (n,) in self._counts.iterator():
            cats.append(cat)
            ns.append(int(n))
        yield pd.DataFrame({"key": [key[0]] * len(cats), "cat": cats, "n": ns})


def map_state_counts(df: DataFrame, key_col: str, cat_col: str) -> DataFrame:
    """Per-key per-category running counts in a named MapState. Output
    (key, cat, n); update output mode.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        TypeCountsProcessor(cat_col),
        outputStructType="key long, cat string, n long",
        outputMode="Update",
        timeMode="None",
    )


class RecentEventsProcessor(StatefulProcessor):
    """Per-key ListState demo (reference ListState,
    state_types.py:63-112): the last ``n`` events per key by
    (ts_ms, id) — a bounded ring buffer held with get/put. Rows within a
    micro-batch arrive in arbitrary partition order, so the processor
    orders by (ts_ms, id) before truncating: the retained window is a
    deterministic function of the data, not of scheduling."""

    def __init__(self, n: int = 5, ts_col: str = "ts_ms", id_col: str = "event_id"):
        self._n = n
        self._ts_col = ts_col
        self._id_col = id_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._recent = handle.getListState("recent", "ts_ms long, id string")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        items = [(int(ts), str(i)) for ts, i in self._recent.get()]
        for pdf in rows:
            items.extend(
                (int(t), str(i))
                for t, i in zip(pdf[self._ts_col], pdf[self._id_col])
            )
        items.sort()
        items = items[-self._n :]
        self._recent.put(items)
        yield pd.DataFrame(
            {"key": [key[0]], "recent": [",".join(i for _, i in items)]}
        )


def recent_events(df: DataFrame, key_col: str, ts_ms_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Last-n events per key in a named ListState; output (key, recent)
    where recent is the comma-joined ids in (ts, id) order.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        RecentEventsProcessor(n, ts_ms_col, id_col),
        outputStructType="key long, recent string",
        outputMode="Update",
        timeMode="None",
    )


class ReducingProcessor(StatefulProcessor):
    """Reference ReducingState/AggregatingState (state_types.py:217-325)
    over a single ValueState: fold every value into an accumulator with
    a caller-supplied ASSOCIATIVE + COMMUTATIVE reduce function —
    within-batch arrival order is arbitrary, so non-commutative folds
    would be scheduling-dependent. The function must be picklable (it
    ships to the workers inside the processor)."""

    def __init__(self, reduce_fn, value_col: str = "value"):
        self._fn = reduce_fn
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._acc = handle.getValueState("acc", "acc double")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        acc = self._acc.get()[0] if self._acc.exists() else None
        for pdf in rows:
            for v in pdf[self._value_col]:
                acc = float(v) if acc is None else float(self._fn(acc, float(v)))
        if acc is not None:
            self._acc.update((acc,))
        yield pd.DataFrame({"key": [key[0]], "acc": [acc]})


def reducing_state(df: DataFrame, key_col: str, reduce_fn, value_col: str = "value") -> DataFrame:
    """Per-key reduce into a ValueState accumulator (ReducingState
    semantics). Output (key, acc); update output mode.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        ReducingProcessor(reduce_fn, value_col),
        outputStructType="key long, acc double",
        outputMode="Update",
        timeMode="None",
    )


class EwmaProcessor(StatefulProcessor):
    """Per-key EWMA level in a ValueState — the streaming twin of
    operators/timeseries.ewma (reference ValueState/AggregatingState
    family, state_types.py:31-357): state is ONE scalar per key, not a
    collected series, so an unbounded stream smooths in O(1) memory.

    Each batch's rows are SORTED by (ts, seq) before folding
    ``s := s*(1-alpha) + x*alpha`` — deterministic for any within-batch
    arrival order. Across batches the fold follows batch arrival order
    (the streaming contract); it equals global event order whenever the
    source delivers batches in event-time order, which is when the
    batch oracle applies exactly.
    """

    def __init__(
        self,
        alpha: float,
        ts_ms_col: str = "ts_ms",
        seq_col: str = "event_id",
        value_col: str = "value_cents",
    ):
        self._alpha = alpha
        self._ts = ts_ms_col
        self._seq = seq_col
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState("ewma", "s double, n long")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([self._ts, self._seq], kind="mergesort")
        prev = self._s.get() if self._s.exists() else None
        s, n = (float(prev[0]), int(prev[1])) if prev is not None else (None, 0)
        a = self._alpha
        one_m = 1.0 - a
        for x in pdf[self._value_col].tolist():
            x = float(x)
            s = x if s is None else s * one_m + x * a
        n += int(len(pdf))
        self._s.update((s, n))
        yield pd.DataFrame({"key": [key[0]], "n": [n], "ewma_c": [s]})


def ewma_state(
    df: DataFrame,
    key_col: str,
    alpha: float,
    ts_ms_col: str = "ts_ms",
    seq_col: str = "event_id",
    value_col: str = "value_cents",
) -> DataFrame:
    """Per-key streaming EWMA via transformWithState. Output
    (key, n, ewma_c); update output mode — the last emission per key is
    the current smoothed level.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        EwmaProcessor(alpha, ts_ms_col, seq_col, value_col),
        outputStructType="key long, n long, ewma_c double",
        outputMode="Update",
        timeMode="None",
    )


class CusumProcessor(StatefulProcessor):
    """Per-key streaming one-sided CUSUM against a FIXED reference value
    (the online form of operators/timeseries.cusum_changepoint — a
    known target replaces the batch twin's corpus mean, the standard
    Page-test deployment). State is FIVE BIGINTs per key (running sum
    p, running min of p, max statistic, its seq, count) — O(1) memory,
    and since every quantity is an exact integer the fold is
    bit-identical to the batch prefix-sum identity whatever the batch
    boundaries.  Rows sort by (ts, seq) within a batch (the
    EwmaProcessor contract)."""

    def __init__(
        self,
        target_cents: int,
        kappa_milli: int = 0,
        ts_ms_col: str = "ts_ms",
        seq_col: str = "event_id",
        value_col: str = "value_cents",
    ):
        self._target = int(target_cents)
        self._kappa = int(kappa_milli)
        self._ts = ts_ms_col
        self._seq = seq_col
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState(
            "cusum", "p long, minp long, smax long, at_seq long, n long"
        )

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([self._ts, self._seq], kind="mergesort")
        prev = self._s.get() if self._s.exists() else None
        if prev is not None:
            p, minp, smax, at, n = (int(v) for v in prev)
        else:
            p, minp, smax, at, n = 0, 0, None, None, 0
        for x, seq in zip(pdf[self._value_col].tolist(), pdf[self._seq].tolist()):
            d = 1000 * (int(round(x)) - self._target)
            p += d - self._kappa
            if p < minp:
                minp = p
            s = p - min(0, minp)
            # Tie-break toward the SMALLEST seq among rows attaining the
            # max — matches the oracle's min(struct(-s, seq)) and the
            # batch q_cusum_changepoint argmax exactly; a strict `>`
            # would keep the first row in scan order, which diverges
            # whenever the statistic reattains its max at a later ts
            # carrying a smaller event_id (r10 advice, data-dependent).
            if smax is None or s > smax or (s == smax and int(seq) < at):
                smax, at = s, int(seq)
        n += int(len(pdf))
        self._s.update((p, minp, smax, at, n))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "s_max": [smax],
                "at_seq": [at],
                "n": [n],
            }
        )


def cusum_state(
    df: DataFrame,
    key_col: str,
    target_cents: int,
    kappa_milli: int = 0,
    ts_ms_col: str = "ts_ms",
    seq_col: str = "event_id",
    value_col: str = "value_cents",
) -> DataFrame:
    """Per-key streaming CUSUM via transformWithState. Output
    (key, s_max, at_seq, n); update mode — the last emission per key is
    the current changepoint estimate.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        CusumProcessor(target_cents, kappa_milli, ts_ms_col, seq_col, value_col),
        outputStructType="key long, s_max long, at_seq long, n long",
        outputMode="Update",
        timeMode="None",
    )


class WeightedReservoirProcessor(StatefulProcessor):
    """Per-key streaming weighted reservoir (the online half of
    Efraimidis-Spirakis A-ES, operators/mixture.weighted_sample): keep
    the k smallest deterministic exponential-race keys seen so far.
    State is ONE list of (key_nano, id) pairs, capped at k — O(k)
    memory per stratum, and because the race keys are deterministic
    integers the maintained set is invariant to batch boundaries and
    arrival order (same merge, any order).  The race key is computed
    Spark-side (stateless map) so the processor only merges."""

    def __init__(self, k: int, key_nano_col: str = "key_nano", id_col: str = "doc_id"):
        self._k = int(k)
        self._key_col = key_nano_col
        self._id_col = id_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState("topk", "ks array<long>, ids array<long>")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        prev = self._s.get() if self._s.exists() else None
        cur = list(zip(prev[0], prev[1])) if prev is not None else []
        cur.extend(
            (int(a), int(b))
            for a, b in zip(pdf[self._key_col].tolist(), pdf[self._id_col].tolist())
        )
        cur.sort()
        cur = cur[: self._k]
        self._s.update(([a for a, _ in cur], [b for _, b in cur]))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(cur),
                "doc_id": [b for _, b in cur],
                "key_nano": [a for a, _ in cur],
            }
        )


def weighted_reservoir_state(
    df: DataFrame,
    stratum_col: str,
    k: int,
    key_nano_col: str = "key_nano",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum streaming weighted sample via transformWithState.
    Output (key, doc_id, key_nano); update mode — the last emission per
    stratum is the current reservoir.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(stratum_col).transformWithStateInPandas(
        WeightedReservoirProcessor(k, key_nano_col, id_col),
        outputStructType="key string, doc_id long, key_nano long",
        outputMode="Update",
        timeMode="None",
    )


class KmvDistinctProcessor(StatefulProcessor):
    """Per-key streaming KMV distinct sketch (the online half of
    operators/sketches.kmv_distinct): keep the k smallest DISTINCT
    hashes seen so far. State is ONE sorted array capped at k — O(k)
    per key, and min-k of a set union is a semilattice merge, so the
    maintained sketch (hence the emitted estimate) is invariant to
    batch boundaries and arrival order. Hashes are computed Spark-side
    (stateless map, the deterministic Knuth mix); the processor only
    merges and emits (approx_distinct, kth_hash) exactly as the batch
    operator would."""

    def __init__(self, k: int, mod: int, hash_col: str = "h"):
        self._k = int(k)
        self._mod = int(mod)
        self._hash_col = hash_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState("kmin", "hs array<long>")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        prev = self._s.get() if self._s.exists() else None
        cur = set(prev[0]) if prev is not None else set()
        cur.update(int(h) for h in pdf[self._hash_col].tolist())
        ks = sorted(cur)[: self._k]
        self._s.update((ks,))
        m = len(ks)
        est = m if m < self._k else (self._k - 1) * self._mod // ks[-1]
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "approx_distinct": [est],
                "kth_hash": [ks[-1]],
            }
        )


def kmv_distinct_state(
    df: DataFrame, group_col: str, k: int, mod: int, hash_col: str = "h"
) -> DataFrame:
    """Per-group streaming KMV distinct estimate via transformWithState.
    Output (key, approx_distinct, kth_hash); update mode — the last
    emission per group is the current estimate.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(group_col).transformWithStateInPandas(
        KmvDistinctProcessor(k, mod, hash_col),
        outputStructType="key string, approx_distinct long, kth_hash long",
        outputMode="Update",
        timeMode="None",
    )


class HoltProcessor(StatefulProcessor):
    """Streaming Holt linear smoothing — the coupled (level, trend)
    twin of :class:`EwmaProcessor`: TWO scalars of ValueState per key
    (operators/timeseries.holt keeps the semantics; this keeps the
    O(1)-state streaming contract). Batch rows sort by (ts, seq), then

        l' = α·x + (1−α)·(l + b);  b' = β·(l' − l) + (1−β)·b

    with the first-ever row initialising (l, b) = (x, 0).
    """

    def __init__(
        self,
        alpha: float,
        beta: float,
        ts_ms_col: str = "ts_ms",
        seq_col: str = "event_id",
        value_col: str = "value_cents",
    ):
        self._alpha = alpha
        self._beta = beta
        self._ts = ts_ms_col
        self._seq = seq_col
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState("holt", "l double, b double, n long")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([self._ts, self._seq], kind="mergesort")
        prev = self._s.get() if self._s.exists() else None
        l, b, n = (
            (float(prev[0]), float(prev[1]), int(prev[2]))
            if prev is not None
            else (None, 0.0, 0)
        )
        a, bb = self._alpha, self._beta
        one_a, one_b = 1.0 - a, 1.0 - bb
        for x in pdf[self._value_col].tolist():
            x = float(x)
            if l is None:
                l, b = x, 0.0
            else:
                new_l = x * a + (l + b) * one_a
                b = (new_l - l) * bb + b * one_b
                l = new_l
        n += int(len(pdf))
        self._s.update((l, b, n))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n": [n],
                "level_c": [l],
                "trend_c": [b],
                "forecast_1_c": [l + b],
            }
        )


def holt_state(
    df: DataFrame,
    key_col: str,
    alpha: float,
    beta: float,
    ts_ms_col: str = "ts_ms",
    seq_col: str = "event_id",
    value_col: str = "value_cents",
) -> DataFrame:
    """Per-key streaming Holt smoothing via transformWithState. Output
    (key, n, level_c, trend_c, forecast_1_c); update output mode.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        HoltProcessor(alpha, beta, ts_ms_col, seq_col, value_col),
        outputStructType=(
            "key long, n long, level_c double, trend_c double, forecast_1_c double"
        ),
        outputMode="Update",
        timeMode="None",
    )


class HoltWintersProcessor(StatefulProcessor):
    """Streaming Holt-Winters additive seasonal smoothing — the
    seasonal sibling of :class:`HoltProcessor`: per-key ValueState is
    (level, trend, the m-element rolling seasonal ARRAY, the warm-up
    buffer, n). The first m points buffer; point m triggers the
    textbook init (l = mean, b = 0, s_i = x_i − l); every later point
    steps the coupled recurrences and rotates the seasonal window.
    State is O(m) per key (m ≈ 7) — the streaming contract the batch
    operator's collect-per-group cannot offer. Emits only once a key
    has stepped at least once (n > m), matching the batch operator's
    drop rule so both share one oracle. Python float arithmetic is
    IEEE double — the same op sequence as the batch fold and the
    recursive-CTE oracle, so results are bit-identical."""

    def __init__(
        self,
        alpha: float,
        beta: float,
        gamma: float,
        period: int,
        ts_ms_col: str = "ts_ms",
        seq_col: str = "event_id",
        value_col: str = "value_cents",
    ):
        self._alpha = alpha
        self._beta = beta
        self._gamma = gamma
        self._m = period
        self._ts = ts_ms_col
        self._seq = seq_col
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState(
            "hw", "l double, b double, s array<double>, buf array<double>, n long"
        )

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([self._ts, self._seq], kind="mergesort")
        prev = self._s.get() if self._s.exists() else None
        if prev is not None:
            l, b = (None if prev[0] is None else float(prev[0])), float(prev[1])
            s = [float(v) for v in (prev[2] or [])]
            buf = [float(v) for v in (prev[3] or [])]
            n = int(prev[4])
        else:
            l, b, s, buf, n = None, 0.0, [], [], 0
        a, bb, g, m = self._alpha, self._beta, self._gamma, self._m
        one_a, one_b, one_g = 1.0 - a, 1.0 - bb, 1.0 - g
        for x in pdf[self._value_col].tolist():
            x = float(x)
            if not s:
                buf.append(x)
                if len(buf) == m:
                    l = sum(buf) / float(m)
                    b = 0.0
                    s = [xi - l for xi in buf]
                    buf = []
            else:
                new_l = (x - s[0]) * a + (l + b) * one_a
                b = (new_l - l) * bb + b * one_b
                s = s[1:] + [(x - new_l) * g + s[0] * one_g]
                l = new_l
            n += 1
        self._s.update((l, b, s, buf, n))
        if n > m:
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n": [n],
                    "level_c": [l],
                    "trend_c": [b],
                    "season_1_c": [s[0]],
                    "forecast_1_c": [l + b + s[0]],
                }
            )


def holt_winters_state(
    df: DataFrame,
    key_col: str,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    ts_ms_col: str = "ts_ms",
    seq_col: str = "event_id",
    value_col: str = "value_cents",
) -> DataFrame:
    """Per-key streaming Holt-Winters via transformWithState. Output
    (key, n, level_c, trend_c, season_1_c, forecast_1_c); update mode.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        HoltWintersProcessor(alpha, beta, gamma, period, ts_ms_col, seq_col, value_col),
        outputStructType=(
            "key long, n long, level_c double, trend_c double, "
            "season_1_c double, forecast_1_c double"
        ),
        outputMode="Update",
        timeMode="None",
    )


class ExpiringCountProcessor(StatefulProcessor):
    """Timer surface demo (reference KeyedProcessOperator timers /
    state eviction): every input batch updates a per-key count and
    registers a processing-time timer ``delay_ms`` ahead;
    ``handleExpiredTimer`` emits a (key, 'timeout', n) marker and
    CLEARS the state — the reference's on_timer eviction.

    Tests use ``delay_ms`` <= 0 (already expired at registration):
    Spark processes expired timers at the end of the same micro-batch,
    so each batch yields a 'data' row then a 'timeout' row per key, and
    counts restart every batch because the timer evicted the state.

    Two Spark surprises this operator documents: (1) fired timers are
    NOT auto-deleted on the Python TWS surface — handleExpiredTimer
    must deleteTimer() or the timer refires every subsequent batch;
    (2) ProcessingTime time mode makes shouldRunAnotherBatch always
    true, so an availableNow trigger NEVER terminates — run queries in
    this mode on the default trigger and stop them explicitly."""

    def __init__(self, delay_ms: int = 0):
        self._delay_ms = delay_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._cnt = handle.getValueState("cnt", "cnt long")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        n = sum(len(pdf) for pdf in rows)
        prev = int(self._cnt.get()[0]) if self._cnt.exists() else 0
        total = prev + n
        self._cnt.update((total,))
        self._handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self._delay_ms
        )
        yield pd.DataFrame({"key": [key[0]], "kind": ["data"], "cnt": [total]})

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        total = int(self._cnt.get()[0]) if self._cnt.exists() else 0
        self._cnt.clear()
        # fired timers are NOT auto-deleted on the Python TWS surface:
        # leaving it registered makes it refire every micro-batch and the
        # availableNow run never drains (observed: 500+ empty batches)
        self._handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
        yield pd.DataFrame({"key": [key[0]], "kind": ["timeout"], "cnt": [total]})


def expiring_counts(df: DataFrame, key_col: str, delay_ms: int = 0) -> DataFrame:
    """Per-key counts with timer-driven eviction (ProcessingTime mode).
    Output (key, kind, cnt) where kind is 'data' | 'timeout'.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    ensure_state_v2_runtime(df.sparkSession)
    return df.groupBy(key_col).transformWithStateInPandas(
        ExpiringCountProcessor(delay_ms),
        outputStructType="key long, kind string, cnt long",
        outputMode="Update",
        timeMode="ProcessingTime",
    )


class SessionTimeoutProcessor(StatefulProcessor):
    """Event-time timer demo (timeMode='EventTime'): per key, track the
    max event time and (re-)register an event-time timer at
    ``last_ts + gap_ms``; when the WATERMARK passes it the key's session
    has gone quiet — emit a (key, 'session_closed', n) marker and evict.
    The Flink-style inactivity-timeout CEP the reference's
    KeyedProcessOperator timer API exists for, deterministic under
    availableNow because event-time timers fire off the watermark, not
    the wall clock. Stale timers are deleted before re-registering (and
    fired ones inside handleExpiredTimer — see ExpiringCountProcessor)."""

    def __init__(self, gap_ms: int, ts_col: str = "ts_ms"):
        self._gap_ms = gap_ms
        self._ts_col = ts_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("sess", "cnt long, last_ts long, expiry long")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        prev = self._sess.get() if self._sess.exists() else None
        cnt, last_ts, old_expiry = prev if prev is not None else (0, 0, None)
        for pdf in rows:
            if len(pdf) == 0:
                continue
            cnt += int(len(pdf))
            last_ts = max(last_ts, int(pdf[self._ts_col].max()))
        if old_expiry:
            self._handle.deleteTimer(int(old_expiry))
        expiry = last_ts + self._gap_ms
        self._handle.registerTimer(expiry)
        self._sess.update((cnt, last_ts, expiry))
        yield pd.DataFrame(
            {"key": [key[0]], "kind": ["open"], "cnt": [cnt]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        cnt = int(self._sess.get()[0]) if self._sess.exists() else 0
        self._sess.clear()
        self._handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
        yield pd.DataFrame({"key": [key[0]], "kind": ["session_closed"], "cnt": [cnt]})


def session_timeouts(
    df: DataFrame, key_col: str, ts_col: str, gap_ms: int, watermark_delay: str = "2 seconds"
) -> DataFrame:
    """Inactivity-timeout sessions on event-time timers: requires an
    event-time column (timestamp type) named ``ts_col``; emits
    (key, kind, cnt) with kind 'open' per batch and 'session_closed'
    when the watermark passes last_ts + gap_ms.
    Build and start the query under ``scoped_conf(spark, STATE_V2_CONF)``."""
    from pyspark.sql import functions as F

    ensure_state_v2_runtime(df.sparkSession)
    wm = df.withWatermark(ts_col, watermark_delay).withColumn(
        "ts_ms", F.unix_millis(F.col(ts_col).cast("timestamp"))
    )
    return wm.groupBy(key_col).transformWithStateInPandas(
        SessionTimeoutProcessor(gap_ms, "ts_ms"),
        outputStructType="key long, kind string, cnt long",
        outputMode="Update",
        timeMode="EventTime",
    )
