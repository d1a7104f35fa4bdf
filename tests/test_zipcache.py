"""Lazy zipimport invalidation (``cassandra_analytics_example_spark/_zipcache``):
``importlib.invalidate_caches()`` reads no zip index, a rewritten archive is
still seen on the next import, every importer of one archive shares one
re-read, and a real Spark Python worker carries the behaviour."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cassandra_analytics_example_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="native lazy invalidation on 3.13+"
)

_PKG = "zc_probe_pkg"


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding package ``zc_probe_pkg`` (module ``a``),
    plus the list of ``zipimport._read_directory`` calls made from here on."""
    path = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{_PKG}/__init__.py", "")
        zf.writestr(f"{_PKG}/a.py", "A = 1\n")
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{_PKG}.a")
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] == _PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_invalidate_caches_reads_no_index(archive):
    path, reads = archive
    importers = [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(v, zipimport.zipimporter)
    ]
    assert len(importers) == 2  # the archive root and its package sub-path
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_seen_after_invalidation(archive):
    path, reads = archive
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr(f"{_PKG}/b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{_PKG}.b").B == 2
    # the root and the package sub-path importer shared one re-read
    assert reads == [path]


def test_root_and_subpath_importers_share_one_reread(archive):
    path, reads = archive
    root = zipimport.zipimporter(path)
    sub = zipimport.zipimporter(os.path.join(path, _PKG))
    assert reads == []  # both built from the shared cache
    root.invalidate_caches()
    sub.invalidate_caches()
    assert reads == []
    assert sub.find_spec(f"{_PKG}.a") is not None
    assert root.find_spec(_PKG) is not None
    assert reads == [path]
    assert root._files is sub._files


def test_install_is_idempotent():
    prop = vars(zipimport.zipimporter)["_files"]
    assert isinstance(prop, property)
    assert _zipcache.install() is True
    importlib.reload(_zipcache)
    assert vars(zipimport.zipimporter)["_files"] is prop


@pytest.mark.skipif(shutil.which("python3.13") is None, reason="no python3.13")
def test_noop_on_python_313():
    code = (
        "import runpy, zipimport; before = dict(vars(zipimport.zipimporter)); "
        f"ns = runpy.run_path({_zipcache.__file__!r}); "
        "assert ns['install']() is False; "
        "assert dict(vars(zipimport.zipimporter)) == before; print('ok')"
    )
    out = subprocess.run(
        ["python3.13", "-c", code], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_spark_worker_invalidation_reads_no_index(spark):
    """Inside a reused Spark Python worker — where ``setup_spark_files``
    calls ``importlib.invalidate_caches()`` before every task — the call
    reads no zip index once the package is imported."""

    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        import cassandra_analytics_example_spark  # noqa: F401

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        yield (os.getpid(), zips, len(reads))

    rdd = spark.sparkContext.parallelize([0], 1)
    rdd.mapPartitions(probe).collect()
    ((_, zips, reads),) = rdd.mapPartitions(probe).collect()
    if zips == 0:
        pytest.skip("the worker imports nothing from a zip")
    assert reads == 0
