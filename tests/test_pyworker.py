"""The worker-side zipimport guard (spatial/_pyworker.py): an unchanged
archive is not re-read on invalidate_caches, a changed one is, and the guard
stays out of the driver process."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from spatial import _pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """(archive path, list of archives re-read) with a one-module zip on
    sys.path; the stdlib invalidate_caches is restored afterwards."""
    archive = str(tmp_path / "guarded.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("guard_mod_a.py", "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("guard_mod_a", "guard_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zipped):
    archive, reads = zipped
    assert importlib.import_module("guard_mod_a").VALUE == 1
    _pyworker.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_changed_archive_is_reread_once(zipped):
    archive, reads = zipped
    importlib.import_module("guard_mod_a")
    _pyworker.install()
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("guard_mod_b.py", "VALUE = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("guard_mod_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_install_is_idempotent(zipped):
    stdlib = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    wrapper = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert wrapper.__wrapped__ is stdlib


@pytest.mark.parametrize("in_worker", [False, True])
def test_import_installs_only_in_a_worker(in_worker):
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if in_worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "x"
    code = ("import zipimport\n"
            "stdlib = zipimport.zipimporter.invalidate_caches\n"
            "import spatial\n"
            "print(zipimport.zipimporter.invalidate_caches is stdlib)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, check=True).stdout
    kept = not in_worker or sys.version_info >= (3, 13)
    assert out.strip() == str(kept)
