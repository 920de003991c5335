"""Worker-protocol tuning in sparc.runtime.init_worker.

The zipimport patch must be SURGICAL: cache invalidation is skipped only
for zips under SPARK_HOME (immutable install artifacts re-scanned by
worker_util.setup_spark_files on every task), while zips anywhere else —
the runtime-added --py-files location — keep full invalidation
semantics, or addPyFile after the first task would silently stop
working."""

import contextlib
import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sparc import runtime


def _make_zip(path: str, member: str, body: str = "x = 1\n") -> None:
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(member, body)


@contextlib.contextmanager
def _patched_home(home, monkeypatch):
    """Run init_worker with SPARK_HOME=home, restoring global state."""
    monkeypatch.setenv("SPARK_HOME", str(home))
    orig_inval = zipimport.zipimporter.invalidate_caches
    had_flag = hasattr(zipimport.zipimporter, "_sparc_inval")
    orig_tuned = runtime._worker_tuned
    runtime._worker_tuned = False
    if had_flag:
        del zipimport.zipimporter._sparc_inval
        zipimport.zipimporter.invalidate_caches = orig_inval
    try:
        runtime.init_worker()
        yield
    finally:
        zipimport.zipimporter.invalidate_caches = orig_inval
        if hasattr(zipimport.zipimporter, "_sparc_inval"):
            del zipimport.zipimporter._sparc_inval
        runtime._worker_tuned = orig_tuned


@pytest.fixture
def patched_runtime(tmp_path, monkeypatch):
    """Run init_worker against a fake SPARK_HOME."""
    fake_home = tmp_path / "spark_home"
    fake_home.mkdir()
    with _patched_home(fake_home, monkeypatch):
        yield fake_home


@pytest.fixture
def symlinked_runtime(tmp_path, monkeypatch):
    """Run init_worker against a SPARK_HOME that is a symlink to a
    versioned install directory; yields (home, real install dir)."""
    real = tmp_path / "spark-4.1.2-bin"
    real.mkdir()
    home = tmp_path / "spark"
    home.symlink_to(real, target_is_directory=True)
    with _patched_home(home, monkeypatch):
        yield home, real


def test_sparkhome_zip_invalidation_skipped(patched_runtime, tmp_path):
    home_zip = str(patched_runtime / "lib.zip")
    _make_zip(home_zip, "mod_a.py")
    imp = zipimport.zipimporter(home_zip)
    assert imp.find_spec("mod_a") is not None
    # append a new member; a skipped invalidation must keep the stale
    # directory (that staleness is exactly the per-task work we avoid)
    _make_zip(home_zip, "mod_b.py")
    imp.invalidate_caches()
    assert imp.find_spec("mod_b") is None


def test_external_zip_invalidation_kept(patched_runtime, tmp_path):
    ext_zip = str(tmp_path / "pyfiles.zip")
    _make_zip(ext_zip, "mod_c.py")
    imp = zipimport.zipimporter(ext_zip)
    assert imp.find_spec("mod_c") is not None
    _make_zip(ext_zip, "mod_d.py")
    imp.invalidate_caches()  # NOT under SPARK_HOME: full semantics
    assert imp.find_spec("mod_d") is not None


def test_import_time_heap_frozen(patched_runtime):
    # the daemon's between-task gc.collect() only scans the young
    # generations once the module heap is frozen
    assert gc.get_freeze_count() > 0


def test_init_worker_idempotent(patched_runtime):
    before = zipimport.zipimporter.invalidate_caches
    runtime._worker_tuned = False
    runtime.init_worker()  # second call must not re-wrap the wrapper
    assert zipimport.zipimporter.invalidate_caches is before


def test_prefix_match_respects_path_boundary(patched_runtime, tmp_path):
    # /.../spark_home-extra must NOT be treated as inside /.../spark_home
    sibling = str(patched_runtime) + "-extra"
    os.makedirs(sibling, exist_ok=True)
    sib_zip = os.path.join(sibling, "lib.zip")
    _make_zip(sib_zip, "mod_e.py")
    imp = zipimport.zipimporter(sib_zip)
    assert imp.find_spec("mod_e") is not None
    _make_zip(sib_zip, "mod_f.py")
    imp.invalidate_caches()
    assert imp.find_spec("mod_f") is not None


def _invalidation_kept(zip_path: str, first: str, second: str) -> bool:
    """Whether a zipimporter on zip_path sees a member appended after its
    first lookup once invalidate_caches() has run."""
    _make_zip(zip_path, first)
    imp = zipimport.zipimporter(zip_path)
    assert imp.find_spec(first[:-3]) is not None
    _make_zip(zip_path, second)
    imp.invalidate_caches()
    return imp.find_spec(second[:-3]) is not None


def test_symlinked_sparkhome_zip_by_real_path_skipped(symlinked_runtime):
    # the worker PYTHONPATH names the Spark jar by its real path, not
    # through the SPARK_HOME symlink
    home, real = symlinked_runtime
    assert not _invalidation_kept(str(real / "core.jar"), "mod_g.py", "mod_h.py")
    assert not _invalidation_kept(str(home / "lib.zip"), "mod_i.py", "mod_j.py")


def test_symlinked_sparkhome_prefix_respects_path_boundary(symlinked_runtime):
    # siblings of the link and of its target are not inside the home
    home, real = symlinked_runtime
    for i, sibling in enumerate((str(home) + "-extra", str(real) + "-extra")):
        os.makedirs(sibling)
        sib_zip = os.path.join(sibling, "lib.zip")
        assert _invalidation_kept(sib_zip, f"mod_s{i}a.py", f"mod_s{i}b.py")


def test_init_tunes_malloc_once(monkeypatch):
    calls = []

    class FakeLibc:
        def mallopt(self, param, value):
            calls.append(param)

    monkeypatch.setattr(runtime, "_libc", FakeLibc)
    monkeypatch.setattr(runtime, "_tuned", False)
    monkeypatch.setattr(runtime, "_initialized_bytes", 0)
    runtime.init(0)
    assert len(calls) == 2
    runtime.init(0)
    assert len(calls) == 2
