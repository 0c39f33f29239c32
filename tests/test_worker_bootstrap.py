"""The zipimport shim: unchanged archives are not re-read on
``importlib.invalidate_caches()``, changed ones are, and every Python
worker runs it; plus the package zip's temp dir does not outlive its
creator."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import xhs_ocr_spark  # installs the shim

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wb_probe_mod.py", source)


def _import_probe(archive):
    sys.modules.pop("wb_probe_mod", None)
    sys.path.insert(0, archive)
    try:
        return importlib.import_module("wb_probe_mod").VERSION
    finally:
        sys.path.remove(archive)


def _reads_of(archive, monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VERSION = 1\n")
    assert _import_probe(archive) == 1
    importlib.invalidate_caches()  # first read after the importer exists
    calls = _reads_of(archive, monkeypatch)
    importlib.invalidate_caches()
    assert calls == []


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VERSION = 1\n")
    assert _import_probe(archive) == 1
    importlib.invalidate_caches()
    calls = _reads_of(archive, monkeypatch)

    _write_zip(archive, "VERSION = 2  # longer, so the size changes\n")
    importlib.invalidate_caches()
    assert len(calls) == 1 and _import_probe(archive) == 2

    # same size, only the mtime moves
    size = os.path.getsize(archive)
    _write_zip(archive, "VERSION = 3  # longer, so the size changes\n")
    assert os.path.getsize(archive) == size
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(calls) == 2 and _import_probe(archive) == 3


def test_every_python_worker_runs_the_shim(spark):
    def report(_):
        # the xhs_ocr_spark global is pickled by reference, so unpickling
        # this closure imports the package on the worker like any repo UDF
        importlib.invalidate_caches()
        shim = xhs_ocr_spark.worker_bootstrap
        zips = {f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)}
        yield (
            os.getpid(),
            zipimport.zipimporter.invalidate_caches is shim.invalidate_caches,
            bool(zips) and zips <= set(shim._seen),
        )

    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(report).collect()
    assert len(rows) == 4
    assert all(installed and ran for _, installed, ran in rows), rows


def test_package_zip_dir_removed_at_exit():
    out = subprocess.run(
        [sys.executable, "-c",
         "import os; from xhs_ocr_spark.session import package_zip; "
         "d = os.path.dirname(package_zip()); assert os.path.isdir(d); print(d)"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.basename(out).startswith("xhs_ocr_spark_pyfiles_")
    assert not os.path.exists(out)
