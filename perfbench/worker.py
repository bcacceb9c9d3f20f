"""The measuring process of one benchmark run (started by ``run.py``).

It sets up once (session, registry, untimed warm-up pass), measures the
workload for ``--seconds``, checks every output against its oracle
outside the timed region, and prints two JSON lines: run details, then
the metrics. With ``--trace 1`` it also reads the per-layer metrics
(see ``layers.py``) and writes the spans to ``--trace-out``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import importlib
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]

import datagen  # noqa: E402
import streamgen  # noqa: E402
from layers import StageWindow, Tracer, phases, plan_metrics, query_phases  # noqa: E402

WORKLOADS = ("decode", "stream")

# decode splits: (name, registered query whose oracle checks the split,
# fixture-stage function, decode-stage function) from the package's
# queries modules; the fixture stage runs once per checkout
DECODE = [
    ("flac", "q_audio_segments_flac", "similarity.flac_fixture_df", "similarity.flac_decode_df"),
    ("g711", "q_audio_segments_g711", "similarity.g711_fixture_df", "similarity.g711_decode_df"),
    ("avc", "q_multimodal_avc_decode", "similarity.avc_fixture_df", "similarity.avc_decode_df"),
    ("avc_deblock", "q_multimodal_avc_deblock", "similarity.avc_deblock_fixture_df",
     "similarity.avc_decode_df"),
    ("video", "q_video_frame_sample", "similarity.video_fixture_df", "similarity.video_decode_df"),
    ("http", "q_http_headers", "web.httpr_fixture_df", "web.httpr_decode_df"),
]
AVRO_QUERY = "q_avro_roundtrip"

# stream workload. OPEN_RATE is the open loop's fixed offered load:
# about half the backlog drain rate (rows_per_s, about 10,500 events/s
# on a shared 4-core x86 box).
STREAM_VALUE_DDL = "event_id long, user_id long, ts_ms long, value double, gen_ms long"
OPEN_RATE, OPEN_INTERVAL = 5_000.0, 0.25
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets")
WARM_FILES, WARM_EVENTS, PRIME_EVENTS = 4, 10_000, 200
DRAINS = 2  # fresh queries over the same backlog per run


def stream_sizes(smoke: bool) -> dict:
    """backlog: (files, events per file); open: offered events/s."""
    if smoke:
        return {"backlog": (3, 1_000), "open": 2_000.0}
    return {"backlog": (5, 10_000), "open": OPEN_RATE}


def resolve(dotted: str):
    mod, attr = dotted.rsplit(".", 1)
    return getattr(importlib.import_module(f"stream_processing_platform_spark.queries.{mod}"), attr)


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least ten
    samples beyond it, capped at p99 (the median when n <= 20)."""
    n = len(values)
    pct = min(0.99, max(0.5, (n - 10) / n))
    return float(np.quantile(values, pct)), round(pct * 100, 1), n


def counts_of(data_dir: str) -> dict[str, int]:
    with open(os.path.join(data_dir, "counts.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- oracles


def compare(name, columns, schema, rows, rel) -> str | None:
    """None when the Spark rows equal the duckdb relation under the
    driver simulation's canonicalisation and type rules, else why not."""
    import driver_sim as D

    dtypes = [str(t) for t in rel.types]
    drows, dcols = rel.fetchall(), list(rel.columns)
    s_names, s_set = D.canon_rows(columns, [tuple(r) for r in rows])
    d_names, d_set = D.canon_rows(dcols, drows)
    spark_by_name = {f.name: f.dataType for f in schema.fields}
    for col, dtype in zip(dcols, dtypes):
        if not D.duck_type_ok(dtype):
            return f"{name}: duck type {dtype} of {col} not whitelisted"
        st = spark_by_name.get(col)
        if st is not None and not D.types_agree(D.canon_spark_type(st), D.canon_duck_type(dtype)):
            return f"{name}: column {col} spark {D.canon_spark_type(st)} vs duck {dtype}"
    if s_names != d_names:
        return f"{name}: columns {s_names} vs {d_names}"
    if s_set != d_set:
        return f"{name}: {len(s_set)} spark rows vs {len(d_set)} oracle rows differ"
    return None


def duck_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ---------------------------------------------------------------- batch


class Job:
    def __init__(self, name, build, rows_in, oracle_name):
        self.name, self.build, self.rows_in, self.oracle_name = name, build, rows_in, oracle_name


class BatchWorkload:
    """A fixed job list; one pass builds each job fresh and times it to
    ``collect()``. ``small`` is the same list over small inputs: the
    traced run's second scale. A run measures at least ``MIN_PASSES``
    passes, more while ``--seconds`` lasts."""

    MIN_PASSES = 3

    def __init__(self, jobs: list[Job], small: list[Job], oracle_dir: str):
        self.jobs, self.small, self.oracle_dir = jobs, small, oracle_dir
        self.first_run_s: list[float] = []
        self.results: dict[str, tuple] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def warmup(self, spark) -> None:
        """One untimed pass, each job's first run in this process; this
        cold pass's wall time is ``first_batch_s``."""
        for job in self.jobs:
            t = time.perf_counter()
            job.build(spark).collect()
            self.first_run_s.append(time.perf_counter() - t)

    def one_pass(self, spark, tracer, layer=None, pass_id=0, jobs=None):
        """(wall s, {job: latency s}, build s) of one pass."""
        t_pass = time.perf_counter()
        lat, build = {}, 0.0
        for job in jobs or self.jobs:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("job", job=job.name, pass_id=pass_id):
                    with tracer.span("queries.build", job=job.name, pass_id=pass_id):
                        df = job.build(spark)
                    t1 = time.perf_counter()
                    with tracer.span("action.collect", job=job.name, pass_id=pass_id):
                        rows = df.collect()
            except Exception as exc:  # a failed job is counted, not fatal
                self.failed += 1
                self.errors.append(f"{job.name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            lat[job.name] = time.perf_counter() - t0
            build += t1 - t0
            if jobs is None:
                self.results[job.name] = (df.columns, df.schema, rows)
            if layer is not None:
                for k, v in phases(df).items():
                    layer[f"plan.{k}_ms"] = layer.get(f"plan.{k}_ms", 0.0) + v
                for k, v in plan_metrics(df).items():
                    layer[k] = layer.get(k, 0.0) + v
        return time.perf_counter() - t_pass, lat, build

    def measure(self, spark, seconds, tracer, traced):
        passes, lats, builds, layer = [], {}, [], {}
        untraced = None
        if traced:
            untraced, _, _ = self.one_pass(spark, Tracer(False))
        window = StageWindow(spark) if traced else None
        deadline = time.perf_counter() + seconds
        while len(passes) < self.MIN_PASSES or time.perf_counter() < deadline:
            if window:
                window.open()
            with tracer.span("pass", pass_id=len(passes)):
                p, lat, b = self.one_pass(spark, tracer, layer if traced else None, len(passes))
            if window:
                for k, v in window.close().items():
                    layer[k] = layer.get(k, 0.0) + v
            passes.append(p)
            for name, t in lat.items():
                lats.setdefault(name, []).append(t)
            builds.append(b)
        if len(lats) < len(self.jobs):
            raise RuntimeError(f"a job failed in every pass: {self.errors[:3]}")
        rows_in = sum(j.rows_in for j in self.jobs)
        # a typical pass: each job at its median over the passes, so a
        # stall in one job of one pass does not move the figure
        p50 = sum(statistics.median(ts) for ts in lats.values())
        e2e = {
            "pass_s": p50,
            "rows_per_s": rows_in / p50,
            "first_batch_s": sum(self.first_run_s),
        }
        info = {"passes": passes, "job_s": lats, "rows_per_pass": rows_in,
                "first_runs": self.first_run_s}
        if traced:
            layer = {name: v / len(passes) for name, v in layer.items()}
            layer["queries.build_ms"] = statistics.median(builds) * 1e3
            layer["trace.overhead_s"] = statistics.median(passes) - untraced
            layer.update(self.fit_two_scales(spark, lats))
        return e2e, layer, info

    def fit_two_scales(self, spark, lats: dict[str, list[float]]) -> dict[str, float]:
        """time = a + b * input rows per job, from its median over the
        measured passes and one pass over the small inputs; summed over
        the jobs: the pass's fixed cost (s) and its cost per million
        input rows (s)."""
        _, small_lat, _ = self.one_pass(spark, Tracer(False), jobs=self.small)
        fixed = per_row = 0.0
        for jm, js in zip(self.jobs, self.small):
            if js.name not in small_lat:  # failed at the small scale, counted there
                continue
            tm, ts = statistics.median(lats[jm.name]), small_lat[js.name]
            if jm.rows_in == js.rows_in:  # one input at both scales: all fixed
                fixed += (tm + ts) / 2
                continue
            b = (tm - ts) / (jm.rows_in - js.rows_in)
            fixed += tm - b * jm.rows_in
            per_row += b
        return {"fit.fixed_s": fixed, "fit.per_mrow_s": per_row * 1e6}

    def verify(self) -> None:
        from stream_processing_platform_spark.registry import oracle_sql

        oracles = oracle_sql()
        con = duck_views(self.oracle_dir)
        for job in self.jobs:
            if job.name in self.results:
                err = compare(job.name, *self.results[job.name], con.sql(oracles[job.oracle_name]))
                if err:
                    self.failed += 1
                    self.errors.append(err)


def decode(run_dir: str, fixtures: str) -> BatchWorkload:
    """The decode splits over the run's staged payloads (and over a short
    slice of them, the smaller scale) and the Avro read."""
    from stream_processing_platform_spark.queries.relational import avro_read_agg_df

    counts = counts_of(run_dir)
    sets = {"": [], ".small": []}
    for name, qname, _fixture, dec in DECODE:
        fn = resolve(dec)
        for suffix, jobs in sets.items():
            path = os.path.join(run_dir, f"{name}{suffix}.parquet")
            jobs.append(Job(name, lambda spark, fn=fn, p=path: fn(spark.read.parquet(p)),
                            counts[f"{name}{suffix}"], qname))
    docs = os.path.join(fixtures, "docs")
    avro_dir = os.path.join(fixtures, "avro")
    avro = Job("avro", lambda spark: avro_read_agg_df(spark, avro_dir),
               counts_of(docs)["events"], AVRO_QUERY)
    return BatchWorkload(sets[""] + [avro], sets[".small"] + [avro], docs)


def codec_layer(run_dir: str, fixtures: str) -> dict[str, float]:
    """Single-threaded in-process calls to each public decoder on staged
    payloads: ms per payload and MB/s of payload bytes."""
    import pyarrow.parquet as pq

    from stream_processing_platform_spark.functions.httpheaders import decode_http_body
    from stream_processing_platform_spark.multimodal.codecs import decode_frame_timeline
    from stream_processing_platform_spark.multimodal.flaccodec import decode_flac
    from stream_processing_platform_spark.multimodal.imagecodec import decode_wav
    from stream_processing_platform_spark.sources.avrocodec import read_ocf_column_blocks

    calls = {
        "flac": ("content", decode_flac),
        "g711": ("content", decode_wav),
        "avc": ("content", decode_frame_timeline),
        "avc_deblock": ("content", decode_frame_timeline),
        "video": ("content", decode_frame_timeline),
        "http": ("payload", decode_http_body),
    }
    out = {}
    for name, (col, fn) in calls.items():
        table = pq.read_table(os.path.join(run_dir, f"{name}.parquet"), columns=[col])
        payloads = [bytes(p) for p in table.column(col).to_pylist()[:24]]
        t = time.perf_counter()
        for p in payloads:
            fn(p)
        took = time.perf_counter() - t
        out[f"codec.{name}.ms_per_payload"] = took * 1e3 / len(payloads)
        out[f"codec.{name}.mb_per_s"] = sum(map(len, payloads)) / 1e6 / took
    files = sorted(glob.glob(os.path.join(fixtures, "avro", "**", "*.avro"), recursive=True))
    t = time.perf_counter()
    for f in files:
        for _ in read_ocf_column_blocks(f):
            pass
    took = time.perf_counter() - t
    out["codec.avro.ms_per_payload"] = took * 1e3 / len(files)
    out["codec.avro.mb_per_s"] = sum(os.path.getsize(f) for f in files) / 1e6 / took
    return out


# ---------------------------------------------------------------- stream


def _iso(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StreamWorkload:
    """kafka_loopback_source → dedup_stream_within_watermark → tumbling
    window aggregate per user → foreach_batch_sink(LoopbackProducerSink).

    Phase A drains a staged backlog one file per micro-batch, ``DRAINS``
    times, each time in a fresh query; phase B runs the generator
    process open-loop at a fixed rate for the run's ``--seconds``."""

    def __init__(self, run_dir: str, seed: int, sizes: dict):
        self.run_dir, self.seed = run_dir, seed
        self.backlog, self.rate = sizes["backlog"], sizes["open"]
        self.per_file = max(int(self.rate * OPEN_INTERVAL), 1)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.n_query = 0
        self.build_ms: list[float] = []
        self.plan_ms: dict[str, float] = {}

    def pipeline(self, spark, topic, max_files):
        """The window aggregation is ``tumbling_agg``'s body without its
        own ``withWatermark``: Spark 4 rejects redefining the watermark
        that ``dedup_stream_within_watermark`` already set."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from stream_processing_platform_spark.sources.kafka_loopback import kafka_loopback_source
        from stream_processing_platform_spark.streaming.dedup import dedup_stream_within_watermark

        ev = kafka_loopback_source(
            spark, topic, StructType.fromDDL(STREAM_VALUE_DDL), max_files_per_trigger=max_files
        ).withColumn("ts", F.timestamp_millis("ts_ms"))
        deduped = dedup_stream_within_watermark(ev, ["event_id"], "ts",
                                                f"{streamgen.WATERMARK_S} seconds")
        return deduped.groupBy(F.window("ts", f"{streamgen.WINDOW_S} seconds"), "user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("sum_value"),
            F.max("gen_ms").alias("max_gen_ms"),
        ).select(F.unix_millis("window.start").alias("window_ms"), "user_id", "n", "sum_value",
                 "max_gen_ms")

    def run_query(self, spark, topic, max_files, tracer, feed=None) -> dict:
        """Start the pipeline on ``topic``, run ``feed(query)`` (if any)
        while it streams, then wait until every published file is
        processed."""
        from stream_processing_platform_spark.sinks import foreach_batch_sink
        from stream_processing_platform_spark.sources.kafka_loopback import LoopbackProducerSink

        self.n_query += 1
        out = os.path.join(self.run_dir, f"sink{self.n_query}")
        producer, emit, write_ms = LoopbackProducerSink(out), {}, []

        def sink(df, batch_id):
            t0 = time.perf_counter()
            producer(df, batch_id)
            t1 = time.perf_counter()
            emit[batch_id] = time.time()
            write_ms.append((t1 - t0) * 1e3)
            tracer.add("sink.write", t0, t1, parent=-1, batch_id=batch_id, query=self.n_query)

        # one state-store partition per core, as bench.py's stream entry
        # does: the session default (32) is sized for local[32]
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
        t0 = time.perf_counter()
        with tracer.span("queries.build", query=self.n_query):
            df = self.pipeline(spark, topic, max_files)
        self.build_ms.append((time.perf_counter() - t0) * 1e3)
        q = foreach_batch_sink(df, sink, os.path.join(self.run_dir, f"ckpt{self.n_query}"))
        try:
            extra = feed(q) if feed else {}
            q.processAllAvailable()
            if tracer.enabled:
                self.plan_ms = query_phases(q)
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        data = [p for p in prog if p["numInputRows"] > 0]
        self.attempted += len(data)
        if q.exception() is not None:
            self.failed += 1
            self.errors.append(f"query {self.n_query}: {q.exception()}")
        shift = time.perf_counter() - time.time()  # progress stamps are wall clock
        for p in prog:
            start = _iso(p["timestamp"]) + shift
            dur = p["durationMs"]
            sid = tracer.add("micro_batch", start, start + dur["triggerExecution"] / 1e3,
                             parent=-1, batch_id=p["batchId"], query=self.n_query)
            for phase in BATCH_PHASES:  # laid end to end in execution order
                ms = dur.get(phase, 0)
                tracer.add(f"stream.{phase}", start, start + ms / 1e3, parent=sid,
                           batch_id=p["batchId"], query=self.n_query)
                start += ms / 1e3
        return {"wall": wall, "progress": prog, "data": data, "out": out, "emit": emit,
                "write_ms": write_ms, **extra}

    def warmup(self, spark) -> None:
        self.run_query(spark, os.path.join(self.run_dir, "warm"), 1, Tracer(False))

    def drain(self, spark, tracer, topic: str = "backlog") -> dict:
        d = self.run_query(spark, os.path.join(self.run_dir, topic), 1, tracer)
        dur = [p["durationMs"]["triggerExecution"] / 1e3 for p in d["data"]]
        rows = [p["numInputRows"] for p in d["data"]]
        if len(rows) < 2:
            raise RuntimeError(f"drain of {topic} ran {len(rows)} data batches")
        return {**d, "first": dur[0], "rates": [r / t for r, t in zip(rows[1:], dur[1:])]}

    def open_loop(self, spark, seconds, tracer) -> dict:
        """The query starts on a topic holding one small priming file (event
        times before any measured window), so planning, state-store init
        and codegen are done before the generator's first file is due."""
        topic = os.path.join(self.run_dir, "open")
        streamgen.write_priming_file(topic, self.seed, PRIME_EVENTS)
        report = os.path.join(self.run_dir, "gen.json")
        clock = {}

        def feed(q):
            q.processAllAvailable()
            clock["start"] = start = time.time()
            gen = subprocess.Popen([
                sys.executable, os.path.join(HERE, "streamgen.py"), "--topic", topic,
                "--seed", str(self.seed), "--rate", str(self.rate),
                "--interval", str(OPEN_INTERVAL), "--seconds", str(seconds),
                "--start", str(start), "--report", report,
            ])
            try:
                gen.wait(timeout=seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited {gen.returncode}")
            with open(report) as fh:
                return {"late_ms": json.load(fh)["late_ms"]}

        ol = self.run_query(spark, topic, None, tracer, feed)
        return {**ol, "start": clock["start"], "files": int(seconds / OPEN_INTERVAL)}

    def measure(self, spark, seconds, tracer, traced):
        window = StageWindow(spark) if traced else None
        if window:
            window.open()
        drains = []
        for i in range(DRAINS):
            with tracer.span("drain", n=i):
                drains.append(self.drain(spark, tracer))
        with tracer.span("open_loop"):
            ol = self.open_loop(spark, seconds, tracer)
        rows, batch = self.read_sink(ol["out"])
        prime = min(p["batchId"] for p in ol["data"])
        lat = [ol["emit"][b] * 1e3 - r["max_gen_ms"] for r, b in zip(rows, batch) if b != prime]
        if not lat:
            raise RuntimeError("the open loop emitted no result rows")
        tail, pct, n = tail_percentile(lat)
        latency = {"sink.latency_p50_ms": statistics.median(lat), "sink.latency_p99_ms": tail}
        e2e = {
            "pass_s": statistics.median(d["wall"] for d in drains),
            "rows_per_s": statistics.median(r for d in drains for r in d["rates"]),
            "first_batch_s": statistics.median(d["first"] for d in drains),
        }
        info = {"drain_rates": [d["rates"] for d in drains],
                "first_batches": [d["first"] for d in drains], **latency,
                "latency_p99_pct": pct, "latency_samples": n,
                "open_batches": len(ol["data"]) - 1, "gen_late_ms_max": max(ol["late_ms"])}
        self._last = drains, ol
        layer = {}
        if traced:
            layer = {**window.close(), **self.layer(drains, ol), **latency,
                     "trace.overhead_s": tracer.cost_s,
                     "queries.build_ms": statistics.median(self.build_ms),
                     **{f"plan.{k}_ms": v for k, v in self.plan_ms.items()}}
        return e2e, layer, info

    def layer(self, drains, ol) -> dict[str, float]:
        prog = [p for d in drains for p in d["data"][1:]] + ol["data"][1:]
        out = {}

        def med(xs):
            return float(statistics.median(list(xs)))

        for key, phase in (("source.latest_offset_ms", "latestOffset"),
                           ("source.get_batch_ms", "getBatch"),
                           ("stream.query_planning_ms", "queryPlanning"),
                           ("stream.add_batch_ms", "addBatch"),
                           ("stream.wal_commit_ms", "walCommit"),
                           ("stream.commit_offsets_ms", "commitOffsets")):
            out[key] = med(p["durationMs"].get(phase, 0) for p in prog)
        out["stream.batches"] = float(len(prog))
        ops = [op for p in prog for op in p["stateOperators"]]
        out["state.commit_ms"] = med(sum(op["commitTimeMs"] for op in p["stateOperators"])
                                     for p in prog)
        last = ol["data"][-1]["stateOperators"]
        out["state.rows_total"] = float(sum(op["numRowsTotal"] for op in last))
        out["state.memory_bytes"] = float(sum(op["memoryUsedBytes"] for op in last))
        out["state.rows_dropped_by_watermark"] = float(
            sum(op["numRowsDroppedByWatermark"] for op in ops))
        dropped = sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in ops)
        attempted = sum(p["numInputRows"] for p in prog)
        out["state.dup_drop_ratio"] = (attempted - dropped) / max(attempted, 1)
        # files the generator had published but the source had not yet
        # consumed, at each open-loop batch start
        backlog, consumed = [], 0
        for p in ol["data"][1:]:
            published = min(max(int((_iso(p["timestamp"]) - ol["start"]) / OPEN_INTERVAL), 0),
                            ol["files"])
            backlog.append(max(published - consumed // self.per_file, 0))
            consumed += p["numInputRows"]
        out["source.backlog_files"] = med(backlog)
        out["gen.late_ms"] = med(ol["late_ms"])
        out["sink.write_ms"] = med(w for d in drains for w in d["write_ms"][1:])
        out["sink.rows_out"] = float(sum(len(self.read_sink(q["out"])[0]) for q in (*drains, ol)))
        return out

    @staticmethod
    def read_sink(out: str):
        import pyarrow.dataset as ds

        table = ds.dataset(out, format="parquet", partitioning="hive").to_table()
        rows = [json.loads(v) for v in table.column("value").to_pylist()]
        return rows, table.column("batch_id").to_pylist()

    def check(self, name: str, q: dict, files: int, n: int, strict: bool) -> None:
        """Every on-time window the final watermark closed equals duckdb's
        aggregate over the generated events minus the late ones and the
        duplicates. ``strict`` (one file per micro-batch) also requires
        that no late event reached the sink; otherwise only windows from
        ``BASE_MS`` on are compared (late and priming events lie before
        it)."""
        import duckdb
        import pandas as pd

        marks = [p.get("eventTime", {}).get("watermark") for p in q["progress"]]
        wm_ms = int(_iso(marks[-1]) * 1000) if marks and marks[-1] else 0
        last_batch = max((p["batchId"] for p in q["progress"]), default=-1)
        parts = [streamgen.make_file(self.seed, j, n) for j in range(files)]
        ev = pd.DataFrame({c: np.concatenate([p[c] for p in parts])
                           for c in ("event_id", "user_id", "ts_ms", "value", "late")})
        con = duckdb.connect()
        con.register("ev", ev)
        size = streamgen.WINDOW_S * 1000
        want = set(con.sql(f"""
            SELECT window_ms, user_id, count(*) AS n, sum(value) AS sum_value
            FROM (SELECT DISTINCT event_id, user_id, value,
                         CAST(floor(ts_ms / {size}) * {size} AS BIGINT) AS window_ms
                  FROM ev WHERE NOT late)
            WHERE window_ms + {size} <= {wm_ms}
            GROUP BY 1, 2""").fetchall())
        rows, batch = self.read_sink(q["out"])
        rows = [r for r, b in zip(rows, batch) if b <= last_batch]
        got = [(r["window_ms"], r["user_id"], r["n"], r["sum_value"]) for r in rows
               if strict or r["window_ms"] >= streamgen.BASE_MS]
        if set(got) != want or len(got) != len(want):
            self.failed += 1
            self.errors.append(f"{name}: {len(set(got) ^ want)} of {len(want)} windows differ")

    def verify(self) -> None:
        drains, ol = self._last
        self.check("drain", drains[-1], *self.backlog, strict=True)
        self.check("open loop", ol, ol["files"], self.per_file, strict=False)

    def baseline_local1(self, tracer) -> float:
        """Drain rate of a short backlog on local[1]: the single-threaded
        baseline."""
        spark = start_session(master="local[1]")
        try:
            return statistics.median(self.drain(spark, tracer, "backlog1")["rates"])
        finally:
            spark.stop()


# ---------------------------------------------------------------- main


def start_session(**kw):
    from stream_processing_platform_spark.session import get_spark

    return get_spark(app_name="perfbench", **kw)


def build_workload(args):
    if args.workload == "decode":
        return decode(args.run_dir, args.fixtures)
    return StreamWorkload(args.run_dir, args.seed, stream_sizes(args.smoke))


def inject_failure(spark, wl) -> None:
    """One extra operation that raises (the smoke test's failing job)."""
    wl.attempted += 1
    try:
        spark.sql("SELECT raise_error('injected failure')").collect()
    except Exception as exc:  # counted like any failed job
        wl.failed += 1
        wl.errors.append(f"injected: {type(exc).__name__}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--fixtures")
    ap.add_argument("--trace-out")
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    t_start = time.perf_counter() - process_age()
    traced = bool(args.trace)
    tracer = Tracer(traced)
    from stream_processing_platform_spark.registry import queries

    layer = {}
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session()
        layer["session.start_s"] = time.perf_counter() - t
        queries()
        wl = build_workload(args)
        wl.warmup(spark)
    setup_s = time.perf_counter() - t_start

    t_measure = time.perf_counter()
    e2e, lay, info = wl.measure(spark, args.seconds, tracer, traced)
    layer.update(lay)
    if args.inject_failure:
        inject_failure(spark, wl)
    t_verify = time.perf_counter()
    wl.verify()
    info["measure_s"], info["verify_s"] = t_verify - t_measure, time.perf_counter() - t_verify
    if traced and args.workload == "decode":
        layer.update(codec_layer(args.run_dir, args.fixtures))
    spark.stop()
    if traced and args.workload == "stream":
        layer["baseline.local1_rows_per_s"] = wl.baseline_local1(tracer)
    e2e["setup_s"] = setup_s
    info["errors"] = wl.errors[:5]
    if traced and args.trace_out:
        tracer.write(args.trace_out)
    print(json.dumps({"info": info}), flush=True)
    print(json.dumps({"attempted": wl.attempted, "failed": wl.failed,
                      "e2e": e2e, "layer": layer}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
