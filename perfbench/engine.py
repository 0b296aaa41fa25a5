"""Driver-JVM lifecycle and memory: the benchmark's JVM is the one
``session.get_spark`` launches, and shut-down waits until every process
the JVM started has ended."""

from __future__ import annotations

import importlib
import os
import resource
import subprocess
import time
from types import SimpleNamespace

ENGINE_MODULES = (
    "hadoop_common_spark.session",
    "hadoop_common_spark.tables",
    "hadoop_common_spark.queries",
    "hadoop_common_spark.operators.sort",
    "hadoop_common_spark.operators.synthgen",
    "hadoop_common_spark.sources.writers",
)


def import_engine() -> SimpleNamespace:
    """The engine modules the benchmark calls, by short name."""
    return SimpleNamespace(
        **{name.rsplit(".", 1)[1]: importlib.import_module(name) for name in ENGINE_MODULES}
    )


def spark_submit_args(local_dir: str, extra: list[str]) -> str:
    """PYSPARK_SUBMIT_ARGS for a benchmark JVM: scratch space inside the
    run's directory and no console progress bar; ``extra`` adds confs."""
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local_dir}",
        *extra,
        "pyspark-shell",
    ]
    return " ".join(args)


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc if gw is not None else None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM, the Python workers below
    it, and this client process, in MB. Each process's own high-water mark
    is summed, which bounds the peak of the sum from above."""
    proc = jvm_process()
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if proc is not None:
        kb += sum(_hwm_kb(p) for p in [proc.pid, *descendants(proc.pid)])
    return kb / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie waiting to be reaped has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shut_down(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM, and wait until the Python workers it
    started have exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the gateway server exits when its stdin closes
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
