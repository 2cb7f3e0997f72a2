"""Python workers keep pyspark's per-task ``importlib.invalidate_caches()``
cheap: below CPython 3.13 it re-read every zip archive's directory on
``sys.path`` (``pyspark.zip``: 1,328 entries, ~16 importers) once per
importer per task, unless ``install_lazy_zip_invalidation`` made it lazy."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip directories lazily itself"
)


@below_313
def test_worker_invalidate_caches_reads_no_zip_directory(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        import rugo_spark  # noqa: F401  (installs the backport in this worker)

        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        return [(len(calls), importers)]

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    for reads, importers in got:
        assert importers >= 1  # pyspark.zip is on the worker's path
        assert reads == 0


_ZIP_SCRIPT = r"""
import importlib, json, os, pkgutil, sys, zipfile, zipimport

stdlib_invalidate = zipimport.zipimporter.invalidate_caches
import rugo_spark  # noqa: F401

archive = sys.argv[1]


def write(*names):
    with zipfile.ZipFile(archive, "w") as z:
        for name in names:
            z.writestr(name, "NAME = %r\n" % name)


def imports(name):
    try:
        return importlib.import_module(name).NAME
    except ModuleNotFoundError:
        return None


write("pkg/__init__.py", "pkg/a.py")
sys.path.insert(0, archive)
out = {"a": imports("pkg.a")}
write("pkg/__init__.py", "pkg/a.py", "pkg/b.py", "pkg/c.py")
importlib.invalidate_caches()
out["listed"] = sorted(m.name for m in pkgutil.iter_modules(sys.modules["pkg"].__path__))
out["b"] = imports("pkg.b")
os.remove(archive)
importlib.invalidate_caches()
out["c"] = imports("pkg.c")
out["patched"] = zipimport.zipimporter.invalidate_caches is not stdlib_invalidate
print(json.dumps(out))
"""


def _run_zip_script(tmp_path, secret: str | None) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env.pop("PYTHON_WORKER_FACTORY_SECRET", None)
    if secret is not None:
        env["PYTHON_WORKER_FACTORY_SECRET"] = secret
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("secret", ["worker", None], ids=["in_worker", "outside_worker"])
def test_zip_imports_follow_the_archive(tmp_path, secret):
    got = _run_zip_script(tmp_path, secret)
    # a rewritten archive serves its new module; a deleted one serves none
    assert (got["a"], got["b"], got["c"]) == ("pkg/a.py", "pkg/b.py", None)
    assert got["listed"] == ["a", "b", "c"]  # pkgutil reads the directory cache
    # installed only inside a PySpark worker, and only where 3.13 is not lazy
    assert got["patched"] == (secret is not None and sys.version_info < (3, 13))
