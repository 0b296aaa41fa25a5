"""The driver JVM's class-data-sharing archive (session.get_spark) and the
package zip each session ships.

Sessions run in subprocesses with ``XDG_CACHE_HOME`` pointed at a tmp
directory, so no test reads or writes the real per-user archive cache.
Runtime at 4 cores: ~75 s for the module. A subprocess session takes
6-10 s; the two that dump an archive at exit take ~23 s each. The
driver-heap derivation test starts no JVM.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark.find_spark_home import _find_spark_home

from hadoop_common_spark import session

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME") or _find_spark_home()
DRIVER_MEM = "2g"
CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=", "-Xlog:cds")

# one session: a small job, then the driver JVM's own options
SESSION = """
import json
from hadoop_common_spark.session import get_spark
spark = get_spark("cds-test", shuffle_partitions=2)
row = spark.range(1000).selectExpr("sum(id) AS s", "count(*) AS n").collect()[0]
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print("RESULT " + json.dumps({"s": row.s, "n": row.n, "args": args}))
"""


def _conf_is_templates_only() -> bool:
    conf = os.path.join(SPARK_HOME, "conf")
    return not os.path.isdir(conf) or all(n.endswith(".template") for n in os.listdir(conf))


needs_cds = pytest.mark.skipif(
    not _conf_is_templates_only(), reason="$SPARK_HOME/conf holds real files: no CDS here"
)


def _run_session(cache: str, **env_extra: str):
    """Run SESSION in a fresh interpreter and JVM. Returns (result, stdout).
    The JVM inherits the pipes, so this returns only after the JVM, and
    any exit-time dump, has finished."""
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV}
    env.pop("SPARK_MASTER", None)
    env.pop("MASTER", None)
    env.update(
        XDG_CACHE_HOME=cache,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=REPO_DIR,
        **env_extra,
    )
    proc = subprocess.run(
        [sys.executable, "-c", SESSION],
        cwd=REPO_DIR, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    result = json.loads(line[len("RESULT "):])
    assert (result["s"], result["n"]) == (499500, 1000)
    return result, proc.stdout


def _cds_dir(cache: str) -> str:
    return os.path.join(cache, "spark-graft", "cds")


def _archive(cache: str) -> str:
    key = session._cds_key(session._java_home(), os.path.join(SPARK_HOME, "jars"), DRIVER_MEM)
    return os.path.join(_cds_dir(cache), f"driver-{key}.jsa")


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


@pytest.fixture(scope="module")
def caches(tmp_path_factory):
    """Parent of every cache the sessions write; each dump is ~170 MB, so
    it goes when the module ends rather than with pytest's old tmp dirs."""
    root = tmp_path_factory.mktemp("cds")
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def dumped(caches):
    """A cache after one session that missed: its candidate and record."""
    cache = str(caches / "dumped")
    result, stdout = _run_session(cache)
    cands = glob.glob(_archive(cache) + ".*[0-9]")
    with open(cands[0] + ".json") as f:
        writer = json.load(f)
    # the JVM closed its pipes on the way out; let it finish exiting
    deadline = time.monotonic() + 30
    while session._alive(writer["pid"]) and time.monotonic() < deadline:
        time.sleep(0.1)
    return {
        "cache": cache, "result": result, "stdout": stdout, "cands": cands,
        "writer": writer, "size": os.path.getsize(cands[0]),
    }


@needs_cds
def test_dump_session_writes_a_candidate_and_keeps_stdout_clean(dumped):
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in dumped["result"]["args"])
    assert "-Xlog:cds=off,cds+dynamic=off" in dumped["result"]["args"]
    assert not os.path.exists(_archive(dumped["cache"]))
    assert len(dumped["cands"]) == 1 and dumped["size"] > 0
    assert not session._alive(dumped["writer"]["pid"])
    assert [x for x in dumped["stdout"].splitlines() if "[cds" in x] == []


@needs_cds
def test_next_session_promotes_the_candidate_and_maps_it(dumped, caches):
    cache = dumped["cache"]
    loads = caches / "classes.txt"
    result, stdout = _run_session(
        cache,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-XX:ReservedCodeCacheSize=1g -Xlog:class+load:file={loads}",
    )
    archive = _archive(cache)
    assert os.path.getsize(archive) == dumped["size"]
    # promoted, not re-dumped: no candidate or record left behind
    assert sorted(os.listdir(_cds_dir(cache))) == ["conf", os.path.basename(archive)]
    assert f"-XX:SharedArchiveFile={archive}" in result["args"]
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads.read_text()
    assert "[cds" not in stdout


@needs_cds
def test_truncated_candidate_is_deleted_not_promoted(dumped, caches):
    whole = next(
        p for p in [_archive(dumped["cache"]), *dumped["cands"]] if os.path.exists(p)
    )
    cut = str(caches / "cut.jsa")
    with open(whole, "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(dumped["size"] // 2))
    # the probe tells them apart: mapping the cut one crashes its JVM
    java = os.path.join(session._java_home(), "bin", "java")
    assert session._probe(java, whole, dumped["writer"]["cp"])
    assert not session._probe(java, cut, dumped["writer"]["cp"])
    assert glob.glob("hs_err_pid*.log") == []

    cache = str(caches / "truncated")
    archive = _archive(cache)
    os.makedirs(_cds_dir(cache))
    pid = _dead_pid()
    cand = f"{archive}.{pid}"
    os.replace(cut, cand)
    cp = dumped["writer"]["cp"].replace(_cds_dir(dumped["cache"]), _cds_dir(cache))
    session._write_record(cand + ".json", pid, cp)
    result, _ = _run_session(cache)
    assert not os.path.exists(cand) and not os.path.exists(cand + ".json")
    assert not os.path.exists(archive)
    # it missed, so it dumped a candidate of its own
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in result["args"])


@pytest.mark.parametrize(
    "host_gib,heap",
    [(1.5, "1g"), (4, "2g"), (15.7, "7g"), (32, "16g"), (512, "16g")],
)
def test_default_driver_heap_is_half_the_host_capped_at_16g(monkeypatch, host_gib, heap):
    """No JVM: the heap ``get_spark`` asks for when
    SPARK_GRAFT_DRIVER_MEM is unset, from a faked host size; the
    variable, when set, wins on every host."""
    page = 4096
    conf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": int(host_gib * (1 << 30)) // page}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_mem() == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"


def test_changed_jar_maps_to_another_key_and_promotion_drops_stale_archives(
    tmp_path, monkeypatch
):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    jdk.mkdir()
    jars.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"PK")
    old_key = session._cds_key(str(jdk), str(jars), "16g")
    assert session._cds_key(str(jdk), str(jars), "16g") == old_key
    assert session._cds_key(str(jdk), str(jars), "32g") != old_key  # no compressed oops
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    new_key = session._cds_key(str(jdk), str(jars), "16g")
    assert new_key != old_key

    cds = tmp_path / "cds"
    cds.mkdir()
    stale = cds / f"driver-{old_key}.jsa"
    stale.write_bytes(b"old")
    archive = str(cds / f"driver-{new_key}.jsa")
    pid = _dead_pid()
    cand = f"{archive}.{pid}"
    with open(cand, "wb") as f:
        f.write(b"new")
    session._write_record(cand + ".json", pid, "cp")
    live = f"{archive}.{os.getpid()}"
    session._write_record(live + ".json", os.getpid(), None)
    monkeypatch.setattr(session, "_probe", lambda java, arch, cp: True)

    # a live writer of the same key keeps its record and reports busy
    assert session._settle_candidates(str(cds), archive, "java") is True
    assert open(archive, "rb").read() == b"new"
    assert sorted(os.listdir(cds)) == sorted(
        [os.path.basename(archive), os.path.basename(live) + ".json"]
    )


def _no_cds_session(tmp_path, **env_extra: str) -> None:
    cache = str(tmp_path / "xdg")
    result, stdout = _run_session(cache, **env_extra)
    assert not any(a.startswith(CDS_FLAGS) for a in result["args"])
    assert not os.path.exists(_cds_dir(cache))
    assert "[cds" not in stdout


def test_spark_master_session_launches_without_cds(tmp_path):
    _no_cds_session(tmp_path, SPARK_MASTER="local[2]")


def test_conf_dir_with_a_real_file_launches_without_cds(tmp_path):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf").write_text("# no settings\n")
    for name in ("bin", "jars"):
        os.symlink(os.path.join(SPARK_HOME, name), home / name)
    _no_cds_session(tmp_path, SPARK_HOME=str(home))


def test_package_zip_is_removed_when_the_process_exits(tmp_path):
    """_ship_package's zip must outlive the session (executors fetch it at
    their first task) but not the process."""
    code = """
from types import SimpleNamespace
from hadoop_common_spark.session import _ship_package
shipped = []
sc = SimpleNamespace(addPyFile=shipped.append)
_ship_package(SimpleNamespace(sparkContext=sc))
import os
assert os.path.exists(shipped[0])
print(shipped[0])
"""
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_DIR, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    zpath = proc.stdout.strip().splitlines()[-1]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert os.listdir(tmp_path) == []
