"""The worker zip guard (``dist.install_zip_guard``): Spark's Python worker
calls ``importlib.invalidate_caches()`` before every task, and without the
guard each zipimporter re-reads its archive's central directory."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from redpanda_ais_demo_spark import dist


def _is_guarded() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``zg_first``; yields (path, reads)
    where ``reads`` counts central-directory reads of that zip. The guard
    a test installs is removed again afterwards."""
    path = str(tmp_path / "guarded.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zg_first.py", "VALUE = 1\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(dist, "_ZIP_STAMPS", {})
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    import zg_first

    assert zg_first.VALUE == 1 and len(reads) == 1  # the import's own read
    assert dist.install_zip_guard()
    importlib.invalidate_caches()  # the guard's first call per archive reads
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_and_new_module_imports(archive):
    path, reads = archive
    import zg_first  # noqa: F401

    dist.install_zip_guard()
    importlib.invalidate_caches()
    del reads[:]
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("zg_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    import zg_second

    assert zg_second.VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged again: no further read


def test_install_twice_has_no_further_effect(archive):
    assert dist.install_zip_guard() is True
    guarded = zipimport.zipimporter.invalidate_caches
    assert dist.install_zip_guard() is False
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_install_skips_lazy_invalidate(monkeypatch):
    """Newer CPython (gh-103200) only drops the cached directory in
    ``invalidate_caches`` and reads it lazily on the next lookup; such
    importers hold no ``_files`` for the guard to fill, so it stays out."""

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", invalidate_caches)
    assert dist.install_zip_guard() is False
    assert zipimport.zipimporter.invalidate_caches is invalidate_caches


def test_guard_falls_back_when_directory_cache_lost(archive):
    """A skip reuses ``zipimport._zip_directory_cache``; if that entry is
    gone, the guard reads the archive again rather than leave the
    importer without a directory."""
    path, reads = archive
    import zg_first  # noqa: F401

    dist.install_zip_guard()
    importlib.invalidate_caches()
    del reads[:]
    zipimport._zip_directory_cache.pop(path)
    importlib.invalidate_caches()
    assert len(reads) == 1 and "zg_first.py" in zipimport._zip_directory_cache[path]


def test_guard_not_installed_on_driver(spark):
    import redpanda_ais_demo_spark  # noqa: F401

    assert dist.guard_worker_zip_imports() is False
    assert not _is_guarded()


def test_warm_worker_tasks_read_no_zip_directory(spark, tmp_path):
    """End to end in Spark's Python workers: once a worker has imported
    the package, its later tasks read no zip central directory at all.
    Each task reports the reads its worker made since its previous task
    ended, and whether it is warm: the worker already finished two tasks
    with the guard installed (the first installs it, or the guard came
    from an earlier test; the next pays one read per archive the guard
    had not yet seen). The read counter stays in the worker between
    tasks; once the test has removed its ``live`` file, the counter's
    next call puts the original ``_read_directory`` back."""
    from redpanda_ais_demo_spark.dist import ensure_shipped

    ensure_shipped(spark)
    live = tmp_path / "live"
    live.touch()
    live_path = str(live)

    def kernel(batches):
        import os
        import zipimport

        import pandas as pd

        import redpanda_ais_demo_spark  # noqa: F401  (installs the guard)

        probe = getattr(zipimport._read_directory, "probe", None)
        if probe is None:  # [reads since the last task ended, guarded tasks done]
            read_directory = zipimport._read_directory
            probe = [0, 0]

            def counting(path):
                if os.path.exists(live_path):
                    probe[0] += 1
                else:
                    zipimport._read_directory = read_directory
                return read_directory(path)

            counting.probe = probe
            zipimport._read_directory = counting
        reads, warm = probe[0], probe[1] >= 2
        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False)
        probe[0], probe[1] = 0, probe[1] + guarded
        yield pd.DataFrame({"reads": [reads], "warm": [warm], "guarded": [guarded]})

    rows = []
    try:
        for _ in range(12):
            rows += spark.range(0, 4, numPartitions=4).mapInPandas(kernel, "reads long, warm boolean, guarded boolean").collect()
    finally:
        live.unlink()
    assert all(r.guarded for r in rows)
    warm = [r.reads for r in rows if r.warm]
    assert len(warm) >= 8, rows
    assert sum(warm) == 0, rows
    assert not _is_guarded()  # the driver stays unpatched


def test_worker_read_counter_is_removed_after_the_probe(spark, tmp_path):
    """After the probe above, a worker whose directory read runs again
    (a zip it has not read, here a fresh one added to its ``sys.path``)
    is back on the original ``_read_directory``."""
    from redpanda_ais_demo_spark.dist import ensure_shipped

    ensure_shipped(spark)
    path = str(tmp_path / "fresh.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zg_fresh.py", "VALUE = 3\n")

    def kernel(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        sys.path.insert(0, path)
        try:
            import zg_fresh  # noqa: F401  (reads the fresh zip's directory)
        finally:
            sys.path.remove(path)
            sys.modules.pop("zg_fresh", None)
            sys.path_importer_cache.pop(path, None)
        yield pd.DataFrame({"counting": [hasattr(zipimport._read_directory, "probe")]})

    for _ in range(3):
        rows = spark.range(0, 8, numPartitions=8).mapInPandas(kernel, "counting boolean").collect()
        assert not any(r.counting for r in rows), rows
