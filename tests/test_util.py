"""Python worker task set-up (plc.util.stamp_check_zip_invalidation): a
zipimporter re-reads its archive on ``importlib.invalidate_caches()`` only
when the archive's stamp changed; the hook is installed at plc import
inside Spark Python workers only, never on the driver or CPython >= 3.13."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import plc
from plc import util

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def restore_zip_invalidation():
    orig = zipimport.zipimporter.invalidate_caches
    yield
    zipimport.zipimporter.invalidate_caches = orig


def _write_zip(path, mods):
    with zipfile.ZipFile(path, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def _count_reads(monkeypatch):
    reads = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_stamp_check_rereads_only_changed_archives(
        tmp_path, monkeypatch, restore_zip_invalidation):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, ["plc_zt_m1"])
    monkeypatch.syspath_prepend(arc)
    for m in ("plc_zt_m1", "plc_zt_m2"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("plc_zt_m1").NAME == "plc_zt_m1"

    assert util.stamp_check_zip_invalidation()
    assert not util.stamp_check_zip_invalidation()  # installs once
    importlib.invalidate_caches()  # importers made earlier get stamped
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(arc) == 0

    _write_zip(arc, ["plc_zt_m1", "plc_zt_m2"])
    importlib.invalidate_caches()
    assert reads.count(arc) >= 1
    assert importlib.import_module("plc_zt_m2").NAME == "plc_zt_m2"

    # a missing archive cannot be stamped: every call takes the original
    # (eager) path, which empties the importer's file table
    del reads[:]
    os.remove(arc)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(arc) == 2


def test_worker_hook_gate(monkeypatch, restore_zip_invalidation):
    from pyspark.core.files import SparkFiles

    orig = zipimport.zipimporter.invalidate_caches
    # the driver: no worker flag, nothing patched
    assert not plc._install_worker_hooks()
    assert zipimport.zipimporter.invalidate_caches is orig
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    # CPython >= 3.13 already has a lazy method: left alone
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not plc._install_worker_hooks()
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is orig
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert plc._install_worker_hooks() == (sys.version_info < (3, 13))


@pytest.mark.parametrize("on_worker", [False, True])
def test_first_plc_import_patches_only_workers(on_worker):
    """A fresh interpreter: plc's first import patches zipimport exactly
    when the pyspark worker flag is set (and the interpreter is eager)."""
    code = (
        "import zipimport\n"
        "from pyspark.core.files import SparkFiles\n"
        f"SparkFiles._is_running_on_worker = {on_worker}\n"
        "orig = zipimport.zipimporter.invalidate_caches\n"
        "import plc\n"
        "print(zipimport.zipimporter.invalidate_caches is not orig)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.split()
    assert out[-1] == str(on_worker and sys.version_info < (3, 13))


def test_installed_in_spark_workers(spark):
    """Inside a real Python worker: plc's import installed the hook, and a
    repeated invalidate re-reads no archive."""
    def probe(batches):
        import importlib as il
        import zipimport as zi

        import pyarrow as pa

        import plc  # noqa: F401  (the import installs the hook)

        for _ in batches:
            pass
        il.invalidate_caches()  # stamps importers made before the hook
        reads = []
        orig = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = orig
        n_zip = sum(isinstance(f, zi.zipimporter)
                    for f in sys.path_importer_cache.values())
        installed = getattr(zi.zipimporter.invalidate_caches,
                            "_plc_stamp_checked", False)
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "reads": [len(reads)],
             "zips": [n_zip]})

    util.ensure_shipped(spark)
    rows = (spark.range(2).repartition(2)
            .mapInArrow(probe, "installed boolean, reads bigint, zips bigint")
            .collect())
    assert len(rows) == 2
    eager = sys.version_info < (3, 13)
    for r in rows:
        assert r["installed"] == eager, r
        assert r["zips"] >= 1 and r["reads"] == 0, r
    # the driver keeps the interpreter's own method
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_plc_stamp_checked", False)
