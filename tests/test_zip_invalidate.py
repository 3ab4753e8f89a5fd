"""The kernel entry's zip fix (operators.extract.install_zip_stat_check),
driven without Spark: once installed, ``importlib.invalidate_caches()``
re-reads no unchanged archive, still picks up a rewritten one, and a
second install does not wrap the wrapper."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from html_parser_spark.operators.extract import install_zip_stat_check


def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding ``pkg`` and ``pkg.sub`` (two importers share the
    archive) on ``sys.path``, ``pkg.sub.m`` imported from it, and a
    counter of central-directory reads. The stock method is put back
    first, so the test installs the wrapper from scratch; monkeypatch
    restores the class and ``sys.path`` afterwards."""
    archive = str(tmp_path / "pkgs.zip")
    write_zip(archive, {"pkg/__init__.py": "",
                        "pkg/sub/__init__.py": "",
                        "pkg/sub/m.py": "X = 1\n"})
    cls = zipimport.zipimporter
    stock = getattr(cls.invalidate_caches, "__wrapped__",
                    cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", stock)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    import pkg.sub.m
    assert pkg.sub.m.X == 1
    yield archive, stock, reads
    for name in [n for n in sys.modules if n == "pkg"
                 or n.startswith("pkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, _, reads = zip_pkg
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive)]
    assert len(importers) >= 2
    install_zip_stat_check()
    importlib.invalidate_caches()  # no key recorded yet: reads as before
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_picked_up(zip_pkg):
    archive, _, reads = zip_pkg
    install_zip_stat_check()
    importlib.invalidate_caches()
    write_zip(archive, {"pkg/__init__.py": "",
                        "pkg/sub/__init__.py": "",
                        "pkg/sub/m.py": "X = 1\n",
                        "pkg/sub/n.py": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    import pkg.sub.n
    assert pkg.sub.n.Y == 2
    assert archive in reads


def test_install_is_idempotent(zip_pkg):
    _, stock, _ = zip_pkg
    install_zip_stat_check()
    wrapper = zipimport.zipimporter.invalidate_caches
    install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert wrapper.__wrapped__ is stock
