"""SparkSession construction and scale-oriented configuration.

The reference engine's tuning surface (``mapreduce.task.io.sort.mb``,
``io.sort.factor``, shuffle parallel copies — reference
``mapred/MapTask.java:947``, ``mapreduce/MRJobConfig.java:154,281``) is
physical-execution tuning that Spark's Tungsten sort-shuffle already owns.
The knobs that remain *semantically* meaningful are partition counts and
adaptivity — set here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we want on every session, including sessions the
# test driver hands us (where we cannot influence builder-time config).
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # dynamic join strategy). Replaces the reference's manual skew tooling
    # (RehashPartitioner) and uber-mode heuristics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (the sanctioned Python slow path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_for_scale(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable scale/determinism confs to an existing session.

    Safe to call on a session we did not build (the verify driver's).
    Deliberately NOT memoized: re-asserting the confs on every query is
    a handful of cheap py4j round trips, and it is what self-heals a
    host session whose confs were mutated between queries (a driver or
    test flipping the timezone would otherwise silently skew every
    later timestamp query against the UTC-based oracles). The expensive
    part (shipping the package zip) keeps its own one-shot memo.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments: never fail a
            # query over a tuning knob.
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``hadoop_common_spark`` importable on executor Python workers.

    Query closures (mapInPandas kernels, UDAFs) reference module-level
    helpers; cloudpickle serializes those as *references* to this package,
    so workers must import it. When the driving process runs from the repo
    the workers inherit the path — but a host session with any other cwd
    (the external verify driver) gets ModuleNotFoundError on every
    Python-kernel query. Shipping a package zip via ``addPyFile`` covers
    both, and is exactly what ``spark-submit --py-files`` would do on a
    real cluster."""
    sc = spark.sparkContext
    if getattr(sc, "_hcs_pkg_shipped", False):
        return
    import hadoop_common_spark

    pkg_dir = os.path.dirname(os.path.abspath(hadoop_common_spark.__file__))
    import tempfile
    import zipfile

    # mkstemp, not a fixed name: a fixed /tmp path breaks for the second
    # user on a shared host (PermissionError on a file another user owns)
    # and races concurrent sessions rewriting it mid-addPyFile
    fd, zpath = tempfile.mkstemp(
        prefix="hadoop_common_spark_pkg_", suffix=".zip"
    )
    os.close(fd)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "hadoop_common_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception as e:
        msg = str(e).lower()
        if "already" in msg and ("added" in msg or "exists" in msg or "registered" in msg):
            # benign: the package zip reached this context in a prior
            # session sharing it — mark shipped so later queries don't
            # retry and re-warn for the lifetime of the context. The
            # compound match avoids mistaking unrelated errors that merely
            # contain 'already' for the benign case (which would suppress
            # the retry and resurface as executor ModuleNotFoundError).
            sc._hcs_pkg_shipped = True
            return
        # Do NOT mark shipped: leaving the flag unset lets the next query
        # retry, and the warning names the root cause — silently
        # swallowing this used to surface later as a bare
        # ModuleNotFoundError on the executors.
        import sys

        print(f"warning: addPyFile({zpath}) failed: {e!r}", file=sys.stderr)
        return
    sc._hcs_pkg_shipped = True


def get_spark(app_name: str = "hadoop_common_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for the current machine.

    On a real cluster the same code runs unchanged — only ``master`` and
    memory sizing come from the environment (spark-submit), and
    ``spark.sql.shuffle.partitions`` should scale with total cores
    (AQE coalesces down when partitions are small).

    On the ``local[cpus]`` master it picks itself, Python workers start
    from ``hadoop_common_spark._pyworker`` (``spark.python.daemon.module``,
    with this checkout on the workers' ``PYTHONPATH``). Cause: PySpark
    calls ``importlib.invalidate_caches()`` at each task start, and
    before Python 3.13 every cached ``zipimporter`` then eagerly re-reads
    its archive's central directory — 160-230 ms per Python task
    (4 cores, Python 3.11).
    The daemon re-reads an archive only when its mtime or size changed.
    A master from ``SPARK_MASTER``/``MASTER`` keeps the stock daemon.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # transformWithState needs google.protobuf in every worker process;
    # on wheel-less runtimes the bridge rides in via PYTHONPATH, which
    # the JVM inherits from THIS process — so provision before launch.
    # Best-effort: False just means TWS self-reports unavailable later.
    from hadoop_common_spark.streaming.stateful import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DataFrame call-site capture off: with it on, every F.* / Column
        # call is wrapped to record its Python call site, which costs ~5
        # py4j round trips per call (active session, conf read, origin
        # lookup, set, clear) and re-tries a failing `import ipykernel`
        # each time (Python does not cache a failed import) — thousands
        # of calls in a wide query build. Only the Python line in
        # DataFrame error contexts is lost; errors still raise. Builder
        # time, not _RUNTIME_CONFS: PySpark reads the flag once per
        # process and caches it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Long sessions (the 195-query strict sweep, the ~130-plan bench)
        # fill the JVM's default 240 MB code cache with whole-stage-codegen
        # classes; once full, HotSpot disables the JIT and late queries run
        # interpreted (measured: corpus_dsir_weights 16s late-session vs
        # 3s in a fresh JVM, reproducibly). Must be set before the driver
        # JVM launches — get_spark is the process's first session builder.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
    )
    if not os.environ.get("SPARK_MASTER") and "local" not in os.environ.get("MASTER", ""):
        builder = builder.master(f"local[{cpus}]")
        # the zipimport-patched worker daemon (see the docstring); only
        # here, where the workers are local and see this checkout
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.python.daemon.module", "hadoop_common_spark._pyworker"
        ).config("spark.executorEnv.PYTHONPATH", pkg_root)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_for_scale(spark)
