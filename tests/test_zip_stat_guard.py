"""The package's zipimporter guard: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import minhashsketch_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimporter caches lazily; no guard")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding ``zg_mod_a`` on sys.path, and a per-archive
    count of ``zipimport._read_directory`` calls."""
    archive = str(tmp_path / "zg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_mod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_mod_a", "zg_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    import zg_mod_a
    assert zg_mod_a.VALUE == "a"
    yield archive, reads
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    before = reads.count(archive)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == before


def test_rewritten_archive_is_reread(zip_on_path):
    """An archive rewritten in place (what addPyFile does) is re-read, and a
    module added to it imports."""
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_mod_a.py", "VALUE = 'a'\n")
        z.writestr("zg_mod_b.py", "VALUE = 'b'\n")
    before = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    import zg_mod_b
    assert zg_mod_b.VALUE == "b"


def test_guard_installs_once():
    guarded = zipimport.zipimporter.invalidate_caches
    importlib.reload(minhashsketch_spark)
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.stat_guarded


def test_guard_reaches_python_workers(spark):
    """A task that imports a package module runs with the guard installed
    in its worker."""
    def probe(_):
        import zipimport

        import minhashsketch_spark.config  # noqa: F401
        yield getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)

    assert spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect() \
        == [True] * 4
