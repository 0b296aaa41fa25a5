"""SparkSession construction and scale-oriented configuration.

The reference engine's tuning surface (``mapreduce.task.io.sort.mb``,
``io.sort.factor``, shuffle parallel copies — reference
``mapred/MapTask.java:947``, ``mapreduce/MRJobConfig.java:154,281``) is
physical-execution tuning that Spark's Tungsten sort-shuffle already owns.
The knobs that remain *semantically* meaningful are partition counts and
adaptivity — set here.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import json
import os
import shutil
import subprocess

from pyspark import SparkContext
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
    # local executors fetch the zip from this path at their first task, so
    # it must outlive the context; it goes when this process exits
    atexit.register(_unlink, zpath)
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


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


# Warnings a dump prints by the thousand (classes from signed jars,
# pre-JDK-6 generated accessors) and the one a classpath mismatch prints;
# the JVM writes them to stdout, which is the caller's.
_CDS_LOG_OFF = "-Xlog:cds=off,cds+dynamic=off"
# Any of these puts more entries on the driver classpath; a non-empty
# directory among them makes the exit-time dump fail the JVM.
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "spark-graft", "cds")


def _java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _cds_key(java_home: str, jars_dir: str, driver_mem: str) -> str:
    """What an archive is valid for: the JDK build, every Spark jar (name,
    size, mtime) and whether the heap is small enough for compressed oops
    (the base archive the dynamic one sits on differs across 32 GB)."""
    h = hashlib.sha256(java_home.encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        if e.name.endswith(".jar"):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    num, unit = driver_mem[:-1], driver_mem[-1].lower()
    heap = int(num) * 1024 ** "bkmgt".index(unit) if unit.isalpha() else int(driver_mem)
    h.update(b"coops" if heap < 32 << 30 else b"nocoops")
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie waiting to be reaped has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _probe(java: str, archive: str, classpath: str) -> bool:
    """Whether a JVM maps ``archive`` whole. A truncated archive crashes the
    JVM that maps it (SIGBUS, exit 134) rather than being refused."""
    cmd = [
        java, "-Xshare:on", "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
        f"-XX:SharedArchiveFile={archive}", "-cp", classpath, "-version",
    ]
    try:
        return subprocess.run(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60
        ).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _write_record(record: str, pid: int, classpath: str | None) -> None:
    with open(record + ".tmp", "w") as f:
        json.dump({"pid": pid, "cp": classpath}, f)
    os.replace(record + ".tmp", record)


def _settle_candidates(cds_dir: str, archive: str, java: str) -> bool:
    """Promote or delete every finished dump in ``cds_dir``.

    A dump writes candidate ``<archive>.<pid>`` next to a record
    ``<archive>.<pid>.json`` naming the JVM that writes it and its
    classpath. Once that JVM has exited, the candidate becomes ``archive``
    if none exists yet and the probe maps it; otherwise it is deleted.
    Candidates of other keys are deleted, and a promotion deletes the
    archives of other keys. Returns True while a live JVM is still due
    to write a candidate for ``archive``."""
    busy = False
    for record in glob.glob(os.path.join(glob.escape(cds_dir), "driver-*.jsa.*.json")):
        cand = record[: -len(".json")]
        try:
            with open(record) as f:
                writer = json.load(f)
        except (OSError, ValueError):
            continue
        if _alive(writer["pid"]):
            busy = busy or cand.startswith(archive + ".")
            continue
        if (
            cand.startswith(archive + ".")
            and writer["cp"]
            and not os.path.exists(archive)
            and _probe(java, cand, writer["cp"])
        ):
            try:
                os.replace(cand, archive)
            except FileNotFoundError:
                pass  # another process promoted it first
            else:
                for old in glob.glob(os.path.join(glob.escape(cds_dir), "driver-*.jsa")):
                    if old != archive:
                        _unlink(old)
        _unlink(cand)
        _unlink(record)
    return busy


def _plan_driver_archive(driver_mem: str) -> tuple[str, str, str | None] | None:
    """How to launch the driver JVM with its class-data-sharing archive:
    (driver options to append, empty conf dir to launch with, the record
    to complete once a dumping JVM runs, else None). None launches stock."""
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM launch in this get_spark
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
        return None
    java_home = _java_home()
    cds_dir = _cds_dir()
    if java_home is None or any(c.isspace() for c in cds_dir):
        return None  # the launcher splits driver options on whitespace
    empty_conf = os.path.join(cds_dir, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf) or not os.access(cds_dir, os.W_OK):
        return None
    key = _cds_key(java_home, os.path.join(spark_home, "jars"), driver_mem)
    archive = os.path.join(cds_dir, f"driver-{key}.jsa")
    busy = _settle_candidates(cds_dir, archive, os.path.join(java_home, "bin", "java"))
    if os.path.exists(archive):
        return f"{_CDS_LOG_OFF} -XX:SharedArchiveFile={archive}", empty_conf, None
    if busy:
        return None  # another JVM is dumping this key
    cand = f"{archive}.{os.getpid()}"
    _write_record(cand + ".json", os.getpid(), None)
    return f"{_CDS_LOG_OFF} -XX:ArchiveClassesAtExit={cand}", empty_conf, cand + ".json"


def _driver_mem() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else half the host's
    physical memory in whole GiB (at least 1g, at most 16g). A heap near
    the host's size gets the JVM killed by the kernel once a second JVM
    shares the host; half leaves room for it and the Python workers."""
    if env := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return env
    half_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // (1 << 30)
    return f"{min(max(half_gib, 1), 16)}g"


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

    On that master the driver JVM also maps a class-data-sharing archive
    (JDK dynamic AppCDS). Most of a fresh session's set-up is the JVM
    loading and verifying Spark, Hadoop and parquet classes, not engine
    work; the archive hands it those classes pre-parsed (4 cores: set-up
    of a fresh ``sf01-driver`` run ~12 s -> ~7 s). The archive lives in
    ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/``, keyed on the JDK,
    the Spark jars and the compressed-oops side of the driver heap.
    - CDS refuses a classpath holding a non-empty directory, and Spark
      puts its conf directory first. So it is used only when
      ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing
      but ``*.template`` files; the launch then points ``SPARK_CONF_DIR``
      at an empty directory in the cache, and only the launch sees it.
    - On a miss the JVM dumps a candidate when it exits. A truncated
      archive is not refused but crashes the JVM that maps it (SIGBUS,
      even under ``-XX:+VerifySharedSpaces``), so a candidate becomes the
      archive only after its JVM has exited and a probe JVM maps it
      (``_settle_candidates``). The next ``get_spark``, in any process,
      does that; the dumping session itself runs slower.
    A master from ``SPARK_MASTER``/``MASTER`` launches without CDS.
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
    driver_mem = _driver_mem()
    driver_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g")
    plan = None
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # the bar writes to stderr without a newline, so it breaks lines
        # of any log that takes both streams
        .config("spark.ui.showConsoleProgress", "false")
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
        .config("spark.driver.extraJavaOptions", driver_opts)
    )
    if not os.environ.get("SPARK_MASTER") and "local" not in os.environ.get("MASTER", ""):
        builder = builder.master(f"local[{cpus}]")
        # the zipimport-patched worker daemon (see the docstring); only
        # here, where the workers are local and see this checkout
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.python.daemon.module", "hadoop_common_spark._pyworker"
        ).config("spark.executorEnv.PYTHONPATH", pkg_root)
        try:
            plan = _plan_driver_archive(driver_mem)
        except (OSError, ValueError):
            plan = None  # no usable cache directory or key: launch stock
    record = None
    if plan is not None:
        cds_opts, conf_dir, record = plan
        os.environ["SPARK_CONF_DIR"] = conf_dir
        builder = builder.config("spark.driver.extraJavaOptions", f"{driver_opts} {cds_opts}")
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if record is not None:
            _unlink(record)
        raise
    finally:
        if plan is not None:
            # for the launch only: later child processes run stock
            del os.environ["SPARK_CONF_DIR"]
    if record is not None:
        # spark-class execs java, so the launched process is the JVM
        _write_record(
            record,
            SparkContext._gateway.proc.pid,
            spark._jvm.System.getProperty("java.class.path"),
        )
    spark.sparkContext.setLogLevel("WARN")
    return configure_for_scale(spark)
