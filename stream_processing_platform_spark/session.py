"""SparkSession factory.

Tuned for the test harness (local[32], 128 GiB) but every setting is the
one you'd want on a 1000-executor cluster too: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for any Python exchange, UTC
session time so event-time arithmetic is zone-free, and a shuffle
partition count that AQE coalesces downward when partitions are small.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set session conf for the body of a ``with`` block only.

    On exit — normal or by exception — each key gets back the value it
    had before, and a key that had no session value is unset again. The
    one way an operator, query or test changes conf for a single query:
    the session is shared (driver sweeps, the pytest fixture), so a
    change that outlives its query silently reconfigures every query
    after it."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def metrics_conf() -> dict[str, str]:
    """Configs that expose the engine's metrics to a Prometheus scrape
    (see monitoring/prometheus.yml — the reference ships the same scrape
    topology for its jobmanager/taskmanager exporters):

    - the driver servlet at ``:4040/metrics/prometheus`` and the executor
      roll-up at ``:4040/metrics/executors/prometheus``;
    - Structured Streaming query metrics (input/processing rate, batch
      duration, state rows) routed into the metrics system so per-job
      panels work without polling the REST facade.

    Off by default locally (the UI adds scheduler chatter to tests);
    enabled when ``SPARK_GRAFT_METRICS=1`` or on any real deployment.
    """
    return {
        "spark.ui.enabled": "true",
        "spark.ui.prometheus.enabled": "true",
        "spark.sql.streaming.metricsEnabled": "true",
        "spark.metrics.conf.*.sink.prometheusServlet.class":
            "org.apache.spark.metrics.sink.PrometheusServlet",
        "spark.metrics.conf.*.sink.prometheusServlet.path":
            "/metrics/prometheus",
    }


def get_spark(
    app_name: str = "stream-processing-platform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-appropriate defaults, or return the
    one already running.

    The arguments apply only when a session is created: a running
    session is returned as it is, so conf a caller set on it (e.g.
    inside ``scoped_conf``) survives. ``builder.getOrCreate`` would
    re-apply every builder option to it instead.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``SPARK_GRAFT_MASTER`` overrides the master URL entirely — the
    local-cluster smoke test (tests/test_local_cluster.py) uses it to
    run the driver contract on ``local-cluster[2,4,4096]``, the
    multi-JVM topology that catches anything silently depending on
    driver and executors sharing one process.
    """
    running = SparkSession._instantiatedSession
    if running is not None and running._sc._jsc is not None:
        return running
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]")
        # Local mode puts driver + all 32 executor threads in ONE JVM;
        # Spark's 1g default heap GC-thrashes under that (GCLocker retry
        # aborts killed a bench run). Only effective at JVM launch —
        # sessions created by spark-submit keep the submitted value.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
        )
        # Event-time arithmetic must be zone-free and match the duckdb oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: coalesce tiny shuffle partitions, split skewed ones, convert
        # sort-merge to broadcast when runtime stats allow. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for every pandas_udf / applyInPandas / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dims (region/nation/supplier) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep scheduler chatter down in local mode.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if os.environ.get("SPARK_GRAFT_METRICS") == "1":
        for k, v in metrics_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers on any non-local
    master. ``local[...]`` workers inherit the driver's cwd, so the
    package resolves by accident of single-JVM sharing; a standalone /
    local-cluster / YARN executor JVM runs in its own work dir and its
    Python workers crash with ModuleNotFoundError the moment a
    cloudpickled closure (an Arrow mapInPandas twin, a
    transformWithState handler) references a package module by name —
    found by the local-cluster[2,4,4096] smoke test
    (tests/test_local_cluster.py), invisible under local[32].
    ``addPyFile`` distributes the zip once per executor and prepends it
    to every worker's sys.path — the portable mechanism (no shared-
    filesystem assumption, unlike spark.executorEnv.PYTHONPATH)."""
    sc = spark.sparkContext
    if sc.master.startswith("local[") or sc.master == "local":
        return
    if getattr(spark, "_spp_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = []
    h = hashlib.sha256()
    for r, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in r:
            continue
        for fn in sorted(files):
            # .dat rides along: data-file operators (the PSL table) read
            # their tables through importlib.resources, which resolves
            # inside the shipped zip — found by the local-cluster smoke
            # test when load_psl crashed executor workers with
            # NotADirectoryError on the zip path (r12)
            if fn.endswith((".py", ".dat")):
                full = os.path.join(r, fn)
                st = os.stat(full)
                sources.append(full)
                h.update(
                    f"{os.path.relpath(full, root)}:{st.st_mtime_ns}:{st.st_size}".encode()
                )
    sources.sort()
    # Content-addressed path (hash of relpaths+mtimes+sizes): repeated
    # non-local sessions on one host (driver_sim sweeps, CI loops) reuse
    # the same zip instead of leaking one mkdtemp per session (r10
    # advice). Build-to-temp + atomic rename so concurrent sessions
    # never ship a half-written zip.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"spp_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(
            prefix="spp_pkg_build_", suffix=".zip", dir=tempfile.gettempdir()
        )
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, root))
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    spark._spp_pkg_shipped = True
