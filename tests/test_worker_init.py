"""worker.worker_init: ``importlib.invalidate_caches()`` re-reads a zip
archive on sys.path only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocr_inference_spark import worker


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``m`` on sys.path, imported once, with the
    unguarded ``invalidate_caches`` restored after the test."""
    current = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        getattr(current, "__wrapped__", current),
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    import m

    assert m.VALUE == 1
    yield archive
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(archive, None)


@pytest.fixture
def read_counter(zip_on_path, monkeypatch):
    """Installs the guard, then records every archive directory read
    (the install itself reads each archive once)."""
    worker.worker_init()
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _reimport_m():
    sys.modules.pop("m", None)
    import m

    return m


def test_unchanged_archive_is_not_reread(zip_on_path, read_counter):
    for _ in range(10):
        importlib.invalidate_caches()
    assert read_counter == []
    assert _reimport_m().VALUE == 1


def test_changed_archive_is_reloaded(zip_on_path, read_counter):
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, "VALUE = 'second version'\n")
    # same mtime (a coarse filesystem clock): the size alone must tell
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert zip_on_path in read_counter
    assert _reimport_m().VALUE == "second version"


def test_same_size_rewrite_is_caught_by_mtime(zip_on_path, read_counter):
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, "VALUE = 2\n")
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(zip_on_path).st_size == st.st_size
    importlib.invalidate_caches()
    assert zip_on_path in read_counter
    assert _reimport_m().VALUE == 2


def test_second_call_is_noop(zip_on_path):
    worker.worker_init()
    guarded = zipimport.zipimporter.invalidate_caches
    worker.worker_init()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__ is not guarded
    assert not hasattr(guarded.__wrapped__, "__wrapped__")


def test_unstattable_archive_falls_back(zip_on_path, read_counter):
    """An archive that cannot be stat'ed goes through the original
    method, which drops it from the directory cache."""
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path not in zipimport._zip_directory_cache
