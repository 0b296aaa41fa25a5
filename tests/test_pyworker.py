"""The Python worker daemon's zipimport patch (hadoop_common_spark._pyworker):
an unchanged archive's directory is not re-read per task, a rewritten
one is, and Spark's Python workers really run under the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from hadoop_common_spark import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches re-reads lazily from Python 3.13; "
    "the daemon installs nothing there",
)


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("hcs_zip_probe.py", source)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory from now on,
    with the daemon's stamps reset."""
    reads: list[str] = []
    orig = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(_pyworker, "_stamps", {})
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, directory_reads):
    z = str(tmp_path / "probe.zip")
    _write_zip(z, "VALUE = 1\n")
    importers = [zipimport.zipimporter(z), zipimport.zipimporter(z)]
    del directory_reads[:]  # the constructors' own reads
    for _ in range(3):
        for imp in importers:
            _pyworker.invalidate_caches(imp)
    # the first call reads once (no stamp yet); the rest share it
    assert directory_reads == [z]
    assert importers[1]._files is zipimport._zip_directory_cache[z]


def test_rewritten_archive_is_reread_and_imports_new_content(
    tmp_path, directory_reads, monkeypatch
):
    z = str(tmp_path / "probe.zip")
    _write_zip(z, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(z)
    try:
        import hcs_zip_probe

        assert hcs_zip_probe.VALUE == 1
        importlib.invalidate_caches()
        del directory_reads[:]
        importlib.invalidate_caches()
        assert z not in directory_reads

        # rewrite in place: new size, and an mtime that surely moved
        _write_zip(z, "VALUE = 22  # rewritten\n")
        st = os.stat(z)
        os.utime(z, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
        del sys.modules["hcs_zip_probe"]
        importlib.invalidate_caches()
        assert directory_reads.count(z) == 1
        import hcs_zip_probe

        assert hcs_zip_probe.VALUE == 22
    finally:
        sys.modules.pop("hcs_zip_probe", None)
        sys.path_importer_cache.pop(z, None)


def test_python_workers_run_the_patched_daemon(spark):
    """get_spark's local session starts Python workers from _pyworker:
    a mapInArrow task sees the patched zipimporter method and returns
    its rows unchanged."""
    import pyarrow as pa

    def probe(batches):
        import zipimport as zi

        mod = zi.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"id": b.column(0), "mod": pa.array([mod] * b.num_rows, pa.string())}
            )

    rows = spark.range(0, 6, numPartitions=2).mapInArrow(probe, "id long, mod string").collect()
    assert sorted(r.id for r in rows) == list(range(6))
    assert {r.mod for r in rows} == {"hadoop_common_spark._pyworker"}
