"""The package's zipimport wrapper: a pyspark worker's per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport is lazy from Python 3.12"
)


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_wrapper_installed_by_package_import():
    import amazon_security_lake_transformation_library_spark  # noqa: F401
    from amazon_security_lake_transformation_library_spark import _zipimport_cache

    assert zipimport.zipimporter.invalidate_caches is _zipimport_cache.invalidate_caches


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    from amazon_security_lake_transformation_library_spark import _zipimport_cache  # noqa: F401

    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"zc_mod_a.py": "X = 1\n"})
    first = zipimport.zipimporter(arc)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or real(a))
    first.invalidate_caches()  # the archive's first call re-reads it
    first.invalidate_caches()
    second = zipimport.zipimporter(arc)
    second.invalidate_caches()
    assert reads == [arc]
    assert second.find_spec("zc_mod_a") is not None


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"zc_mod_b.py": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    for name in ("zc_mod_b", "zc_mod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").X == 1
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or real(a))
    importlib.invalidate_caches()  # the archive's first call re-reads it
    importlib.invalidate_caches()  # unchanged: served from that read
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_c")
    assert reads == [arc]

    st = os.stat(arc)
    _write_zip(arc, {"zc_mod_b.py": "X = 1\n", "zc_mod_c.py": "Y = 2\n"})
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [arc, arc]
    assert importlib.import_module("zc_mod_c").Y == 2
