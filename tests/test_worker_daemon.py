"""The worker daemon's zipimport back-port, without Spark: an archive
directory is re-read on ``invalidate_caches()`` only when the archive
changed (the CPython 3.12 behaviour, gh-103200)."""

import importlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path
from unittest import mock

import pytest

import pysparkdedup.worker_daemon  # noqa: F401  (installs the back-port)

ROOT = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ no longer re-reads eagerly; no back-port installed")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture()
def zipped(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    sys.path.insert(0, str(archive))
    yield archive
    sys.path.remove(str(archive))
    sys.path_importer_cache.pop(str(archive), None)
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)


def _reads():
    return mock.patch("zipimport._read_directory",
                      wraps=zipimport._read_directory)


def test_unchanged_archive_is_not_reread(zipped):
    importer = zipimport.zipimporter(str(zipped))
    importer.invalidate_caches()  # first call: no stamp yet, reads once
    with _reads() as read:
        importer.invalidate_caches()
        importer.invalidate_caches()
    assert read.call_count == 0


def test_changed_archive_is_reread_and_new_module_imports(zipped):
    assert importlib.import_module("wd_mod_a").X == 1
    importer = sys.path_importer_cache[str(zipped)]
    assert isinstance(importer, zipimport.zipimporter)
    importer.invalidate_caches()
    _write_zip(zipped, {"wd_mod_a.py": "X = 1\n", "wd_mod_b.py": "Y = 2\n"})
    with _reads() as read:
        importer.invalidate_caches()
    assert read.call_count == 1
    assert importlib.import_module("wd_mod_b").Y == 2


def test_import_installs_backport_and_prestamps(tmp_path):
    """A fresh interpreter: importing the daemon module patches zipimporter
    and stamps the importers it already holds, so the first task's
    invalidate_caches() reads nothing."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    script = textwrap.dedent(f"""
        import importlib, sys, zipimport
        from unittest import mock
        original = zipimport.zipimporter.invalidate_caches
        sys.path.insert(0, {str(archive)!r})
        import wd_mod_a
        import pysparkdedup.worker_daemon
        assert zipimport.zipimporter.invalidate_caches is not original
        with mock.patch("zipimport._read_directory",
                        wraps=zipimport._read_directory) as read:
            importlib.invalidate_caches()
        assert read.call_count == 0, read.call_count
        print("ok")
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
