"""Lazy zipimporter cache invalidation (flink_kafka_spark.zipcache):
an unchanged archive is not re-read, a rewritten one is, and Python
3.13+ keeps the stdlib method."""

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from flink_kafka_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the stdlib method is lazy here")
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_one": "X = 1\n"})
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches

    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # no signature yet: reads
    n = len(reads)
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()  # a second importer shares it
    importlib.invalidate_caches()
    assert len(reads) == n

    _write_zip(archive, {"zc_one": "X = 1\n", "zc_two": "Y = 2\n"})
    importer.invalidate_caches()
    assert len(reads) == n + 1
    spec = importer.find_spec("zc_two")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2
    importer.invalidate_caches()
    assert len(reads) == n + 1


def test_install_is_idempotent_and_leaves_python_3_13_alone(monkeypatch):
    zipcache.install()
    zipcache.install()
    if sys.version_info < (3, 13):
        assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipcache._stdlib_invalidate)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._stdlib_invalidate
