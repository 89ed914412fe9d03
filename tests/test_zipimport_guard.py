"""The zipimport guard installed by `import rust_geo_booleanop_spark`.

`importlib.invalidate_caches()` must not re-parse an unchanged zip archive
(CPython 3.11/3.12 re-read the whole central directory there, once per
zipimporter, at the start of every Spark Python task), and it must never
serve a stale directory once the archive changed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import rust_geo_booleanop_spark

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_mod_a": "a"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("zg_mod_a", "zg_mod_b", "zg_mod_c"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    read_directory = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_guard_installed_only_where_invalidate_rereads():
    guarded = getattr(zipimport.zipimporter.invalidate_caches, "guarded", False)
    assert guarded == GUARDED


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    assert reads.count(zip_on_path) == 1  # the first import reads the directory
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)


def test_rewritten_archive_is_reread(zip_on_path):
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    _write_zip(zip_on_path, {"zg_mod_a": "a", "zg_mod_b": "b"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_b").VALUE == "b"


def test_replaced_archive_is_reread(zip_on_path):
    """A new inode (atomic replace) counts as a change even if the new file
    has the same size and mtime as the old one."""
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    st = os.stat(zip_on_path)
    fresh = zip_on_path + ".new"
    _write_zip(fresh, {"zg_mod_c": "c"})  # same entry sizes as zg_mod_a
    os.utime(fresh, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(fresh, zip_on_path)
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_c").VALUE == "c"


@pytest.mark.skipif(not GUARDED, reason="no guard on CPython >= 3.13")
def test_vanished_archive_falls_back_to_original(zip_on_path):
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # stat fails: the original method runs
    assert sys.path_importer_cache[zip_on_path]._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zg_mod_b")


def _probe_task(pkg):
    def probe(batches):
        import importlib as il
        import zipimport as zi

        import pyarrow as pa

        assert pkg.__version__  # unpickling this closure imports the package
        n = [0]
        read_directory = zi._read_directory

        def counting(archive):
            n[0] += 1
            return read_directory(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()  # may re-read archives opened before import
            first = n[0]
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        guarded = bool(getattr(zi.zipimporter.invalidate_caches, "guarded", False))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"guarded": guarded, "rereads": n[0] - first}]
        )

    return probe


def test_every_spark_task_sees_the_guard(spark):
    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInArrow(_probe_task(rust_geo_booleanop_spark), "guarded boolean, rereads long")
        .collect()
    )
    assert len(rows) == 8
    assert {r.guarded for r in rows} == {GUARDED}
    if GUARDED:
        assert {r.rereads for r in rows} == {0}
