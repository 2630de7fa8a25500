"""The package's stat-keyed wrap of ``zipimporter.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task, and on Python >= 3.10 each zipimporter re-reads its whole
archive directory there. Importing the package makes that re-read
happen only when the archive changed. These tests count re-reads
instead of timing them."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import historicaldatadocumentparsersystem_spark as pkg
from historicaldatadocumentparsersystem_spark import fixtures, pipeline

PKG = pkg.__name__


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``<stem>_a``; yields (path, stem)."""
    stem = f"zipinv_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{stem}_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, stem
    for name in [m for m in sys.modules if m.startswith(stem)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(path, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _bump_mtime(path):
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_unchanged_archive_is_not_reread(archive, reads):
    path, stem = archive
    assert importlib.import_module(f"{stem}_a").X == 1
    importlib.invalidate_caches()   # first call keys the importer
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread_and_new_module_imports(archive, reads):
    path, stem = archive
    importlib.import_module(f"{stem}_a")
    importlib.invalidate_caches()
    _write_zip(path, {f"{stem}_a": "X = 1\n", f"{stem}_b": "Y = 2\n"})
    _bump_mtime(path)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module(f"{stem}_b").Y == 2


def test_archive_that_cannot_be_stat_is_reread(archive, reads):
    path, stem = archive
    importlib.import_module(f"{stem}_a")
    importlib.invalidate_caches()
    os.remove(path)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    # the failed read emptied the importer and left no key: once the
    # archive is back, the next call reads it again
    _write_zip(path, {f"{stem}_a": "X = 1\n", f"{stem}_c": "Z = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 2
    assert importlib.import_module(f"{stem}_c").Z == 3


def test_failed_read_is_retried_on_the_next_call(archive, reads,
                                                monkeypatch):
    path, stem = archive
    importlib.import_module(f"{stem}_a")
    importlib.invalidate_caches()
    _write_zip(path, {f"{stem}_a": "X = 1\n", f"{stem}_d": "W = 4\n"})
    _bump_mtime(path)
    counting = zipimport._read_directory

    def failing(archive):
        if archive == path:
            raise zipimport.ZipImportError("transient", path=archive)
        return counting(archive)

    monkeypatch.setattr(zipimport, "_read_directory", failing)
    importlib.invalidate_caches()      # the read fails: importer empty
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    reads.clear()
    importlib.invalidate_caches()      # same stat, but no key was kept
    assert reads.count(path) == 1
    assert importlib.import_module(f"{stem}_d").W == 4


def test_second_import_installs_one_wrapper():
    importlib.reload(pkg)
    importlib.reload(pkg)
    wrap = zipimport.zipimporter.invalidate_caches
    assert wrap.stat_keyed
    assert not getattr(wrap.__wrapped__, "stat_keyed", False)


def test_reused_worker_runs_with_the_wrap(spark):
    def probe_task(batches):
        """Worker state at task start: is the package loaded, is the
        wrap installed, and how many zipimporters carry a stat key.
        Defined here so that it reaches the worker by value and
        imports nothing from the package itself."""
        import sys
        import zipimport
        row = {"pkg": PKG in sys.modules,
               "wrapped": getattr(zipimport.zipimporter.invalidate_caches,
                                  "stat_keyed", False),
               "importers": 0, "keyed": 0}
        for f in list(sys.path_importer_cache.values()):
            if isinstance(f, zipimport.zipimporter):
                row["importers"] += 1
                row["keyed"] += "_stat_key" in f.__dict__
        for _ in batches:
            pass
        yield pd.DataFrame([row])

    docs = fixtures.corpus_df(spark, 40, num_partitions=4)
    assert pipeline.extract_df(docs, num_buckets=4).count() == 40
    probe = spark.range(8).repartition(4)
    for _ in range(2):
        rows = probe.mapInPandas(
            probe_task, "pkg boolean, wrapped boolean, importers long, "
                        "keyed long").collect()
    loaded = [r for r in rows if r.pkg]
    assert loaded, "no Python worker was reused after the package UDF"
    for r in loaded:
        assert r.wrapped
        # every archive importer went through the wrap at task start
        assert r.importers > 0 and r.keyed == r.importers


def test_zip_added_mid_session_imports_in_a_later_task(spark, tmp_path):
    docs = fixtures.corpus_df(spark, 20, num_partitions=4)
    assert pipeline.extract_df(docs, num_buckets=4).count() == 20
    stem = f"zipinv_added_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    path = str(tmp_path / f"{stem}.zip")
    _write_zip(path, {stem: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(path)

    def use_added(batches):
        import importlib
        mod = importlib.import_module(stem)
        for b in batches:
            yield pd.DataFrame({"v": b["id"] * 0 + mod.VALUE + 1})

    got = spark.range(4).repartition(4).mapInPandas(use_added, "v long")
    assert [r.v for r in got.collect()] == [42] * 4
