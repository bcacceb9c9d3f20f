#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {decode,stream} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run is one fresh measuring process
(``worker.py``) on ``local[$(nproc)]``. This launcher pins the
environment the engine needs, stages the run's inputs from the seed
(untimed, before the worker starts), samples the peak RSS of the
worker's process tree from /proc, records run-health provenance
(calibration loop, CPU steal, load, cores, seed) and prints the metrics
named in ``BENCHMARK.json`` as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer one and writes the spans under ``.perfbench/traces/``. A
per-layer metric outside the layers a workload exercises (``LAYER_SCOPE``)
prints as 0; a metric the run should have measured and did not fails
the run. ``--smoke`` shrinks the inputs and ``--inject-failure`` adds
one failing operation; both exist for ``perfbench/smoke/smoke.py``.
Everything the benchmark writes stays under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "stream_processing_platform_spark")
DRIVER_SIM = os.path.join(ROOT, "scripts", "driver_sim.py")

DECODE_FILES, DECODE_SMALL_ROWS = 8, 24
WORKER_TIMEOUT = 170.0

# per-layer metric prefixes each workload exercises
_COMMON = ("mem.", "session.", "queries.", "plan.", "exec.", "exchange.", "trace.")
LAYER_SCOPE = {
    "decode": _COMMON + ("codegen.", "pyworker.", "fit.", "codec."),
    "stream": _COMMON + ("source.", "gen.", "stream.", "state.", "sink.", "baseline."),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pinned_env() -> dict[str, str]:
    """PYTHONPATH at the repository root (local Python workers import the
    package by name), local[$(nproc)], a driver heap sized to the box,
    and every scratch path inside the checkout."""
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    heap_gb = max(2, min(24, mem_gb // 4))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


# ---------------------------------------------------------------- health


def calibrate() -> float:
    """Seconds for a fixed single-threaded Python + numpy loop."""
    import numpy as np

    t = time.perf_counter()
    a = np.arange(400_000, dtype=np.float64)
    acc = 0.0
    for i in range(12):
        acc += float(np.sort(a[::-1] * (1.0 + i))[i])
    acc += sum(i * i for i in range(1_500_000))
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


# ---------------------------------------------------------------- staging


class Lock:
    """Serialise staging between concurrent runs in one checkout."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self.fh = open(self.path, "w")
        fcntl.flock(self.fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        fcntl.flock(self.fh, fcntl.LOCK_UN)
        self.fh.close()
        return False


def fixtures() -> str:
    """The decode payload pools, encoded once per checkout."""
    path = os.path.join(WORK, "fixtures")
    with Lock(os.path.join(WORK, "fixtures.lock")):
        if not os.path.exists(os.path.join(path, "READY")):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            with open(os.path.join(WORK, "fixtures.log"), "w") as log:
                subprocess.run([sys.executable, os.path.join(HERE, "fixtures.py"), path],
                               env=pinned_env(), cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
                               stderr=log, timeout=800)
    return path


def stage_decode(run_dir: str, args) -> list[str]:
    """The pool's payload rows in a seeded order, split over a fixed
    number of files, and a short unshuffled slice: the traced run's
    small scale."""
    import numpy as np
    import pyarrow.parquet as pq

    from worker import DECODE

    fix = fixtures()
    counts = {}
    for i, (name, *_) in enumerate(DECODE):
        pool = pq.read_table(os.path.join(fix, f"{name}.pool"))
        rows = pool.take(np.random.default_rng([args.seed, i]).permutation(pool.num_rows))
        out = os.path.join(run_dir, f"{name}.parquet")
        os.makedirs(out)
        step = -(-rows.num_rows // DECODE_FILES)
        for k in range(DECODE_FILES):
            pq.write_table(rows.slice(k * step, step), os.path.join(out, f"part-{k}.parquet"))
        counts[name] = rows.num_rows
        small = pool.slice(0, DECODE_SMALL_ROWS)
        pq.write_table(small, os.path.join(run_dir, f"{name}.small.parquet"))
        counts[f"{name}.small"] = small.num_rows
    with open(os.path.join(run_dir, "counts.json"), "w") as fh:
        json.dump(counts, fh)
    return ["--fixtures", fix]


def stage_stream(run_dir: str, args) -> list[str]:
    """The drain backlog, the warm-up backlog and, for a traced run, the
    short backlog of the local[1] baseline."""
    import streamgen
    import worker

    files, events = worker.stream_sizes(args.smoke)["backlog"]
    streamgen.stage_backlog(os.path.join(run_dir, "backlog"), args.seed, files, events)
    if args.trace:
        streamgen.stage_backlog(os.path.join(run_dir, "backlog1"), args.seed, 3, events)
    streamgen.stage_backlog(os.path.join(run_dir, "warm"), args.seed + 1, worker.WARM_FILES,
                            worker.WARM_EVENTS)
    return []


STAGE = {"decode": stage_decode, "stream": stage_stream}

# ---------------------------------------------------------------- worker


def session_procs(sid: int) -> dict[str, tuple[str, str, str]]:
    """pid -> (parent pid, command, executable) of the processes in
    session ``sid``."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                head, fields = fh.read().rsplit(")", 1)
            fields = fields.split()
            if int(fields[3]) == sid:
                procs[pid] = (fields[1], head.split("(", 1)[1], os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
    return procs


class TreeRss:
    """Peak resident memory of every process in the worker's session
    (the worker, its JVM, Python workers and the generator), and the
    per-command split at the peak. Each process counts its proportional
    set size, so pages a forked child shares with its parent (the Python
    worker daemon's children) count once; a child a JVM thread spawned
    that has not yet exec'd its helper shares the JVM's address space
    and is skipped."""

    def __init__(self, sid: int):
        self.sid, self.peak, self.split, self._stop = sid, 0, {}, threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _sample(self) -> dict[str, int]:
        procs = session_procs(self.sid)
        split: dict[str, int] = {}
        for pid, (ppid, comm, exe) in procs.items():
            parent = procs.get(ppid)
            if parent and parent[2] == exe and parent[1] != comm:
                continue  # spawned by a parent thread, not yet exec'd: the parent's memory
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            split[comm] = split.get(comm, 0) + pss * 1024
        return split

    def _run(self):
        while not self._stop.wait(0.25):
            split = self._sample()
            if sum(split.values()) > self.peak:
                self.peak, self.split = sum(split.values()), split

    def stop(self) -> float:
        self._stop.set()
        self.thread.join()
        return self.peak / 2**20


def run_worker(cmd, env, timeout, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        rss = TreeRss(proc.pid)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.communicate()
            out = None
        finally:
            peak = rss.stop()
            split = {k: round(v / 2**20) for k, v in rss.split.items()}
            try:
                os.killpg(proc.pid, 9)  # nothing of the run outlives it
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 15
            while session_procs(proc.pid) and time.monotonic() < deadline:
                time.sleep(0.05)
    return proc.returncode, out, peak, split


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the smoke test)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one failing operation (the smoke test)")
    args = ap.parse_args()

    if not (os.path.isdir(PACKAGE) and os.path.isfile(DRIVER_SIM)):
        print(f"perfbench: no engine to measure: {PACKAGE} or {DRIVER_SIM} is missing",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in STAGE or args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    env = pinned_env()
    if args.workload == "decode":
        fixtures()  # once per checkout, before the run's own time limit starts
    t0 = time.perf_counter()
    steal0, cal_start = cpu_times(), calibrate()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    trace_out = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--trace-out", trace_out]
    if args.inject_failure:
        cmd.append("--inject-failure")
    if args.smoke:
        cmd.append("--smoke")
    try:
        cmd += STAGE[args.workload](run_dir, args)
        budget = max(60.0, WORKER_TIMEOUT - (time.perf_counter() - t0))
        code, out, peak_mb, rss_split = run_worker(cmd, env, budget,
                                        os.path.join(WORK, f"worker-{args.workload}.log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not out:
        print(f"perfbench: worker exited {code}; see .perfbench/worker-{args.workload}.log",
              file=sys.stderr)
        return 1
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    info, res = lines[-2]["info"], lines[-1]

    steal1, cal_end = cpu_times(), calibrate()
    delta = [b - a for a, b in zip(steal0, steal1)]
    if args.trace:
        values, names = {**res["layer"], "mem.peak_rss_mb": peak_mb}, spec["per_layer"]
        scope = LAYER_SCOPE[args.workload]
    else:
        values, names = res["e2e"], spec["end_to_end"]
        scope = ("",)
    missing = [m["name"] for m in names
               if m["name"].startswith(scope) and m["name"] not in values]
    if missing:
        print(f"perfbench: the run did not measure {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    provenance = {
        "workload": args.workload, "seed": args.seed, "cores": nproc(),
        "cal_s": [round(cal_start, 4), round(cal_end, 4)],
        "steal_share": round(delta[7] / max(sum(delta), 1), 4),
        "load_1min": os.getloadavg()[0],
        "fail_ratio": res["failed"] / res["attempted"], "failed": res["failed"],
        "attempted": res["attempted"],
        "not_measured": [m["name"] for m in names if not m["name"].startswith(scope)],
        "peak_rss_mb": round(peak_mb, 1), "peak_rss_split_mb": rss_split,
        **info,
    }
    print("perfbench provenance " + json.dumps(provenance, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
