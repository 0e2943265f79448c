"""Ship this package to Spark Python workers, and keep their per-task
import overhead flat.

Any operator that runs Python on executors (mapInPandas / pandas UDFs)
needs the package importable there. The host session may have been built
by a third party (the driver) with an arbitrary cwd and no PYTHONPATH to
this repo, so we zip the package once and ``addPyFile`` it — the
cluster-correct mechanism (works identically on local and multi-node).

Spark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Each
``zipimporter`` on ``sys.path_importer_cache`` then re-reads its
archive's whole central directory — ~21 importers over the Spark jar,
``pyspark.zip``, py4j and this package's zip, 50-80 ms of CPU per task
in a reused worker on a 4-vCPU VM, paid before any row moves.
``guard_worker_zip_imports`` (called when the package is imported inside
a worker) makes that re-read conditional on the archive having changed
on disk.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)
_MARKER = "_redpanda_ais_demo_spark_shipped"

# archive path -> (st_ino, st_mtime_ns, st_size) taken before its last
# directory read; the read itself stays in zipimport._zip_directory_cache,
# shared by every zipimporter on the archive (a package inside a zip gets
# an importer per subdir)
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _rereads_eagerly(invalidate_caches) -> bool:
    """Whether this ``zipimporter.invalidate_caches`` re-reads the whole
    directory into ``self._files``, as CPython 3.11's does. Later ones
    (gh-103200) only drop the ``_zip_directory_cache`` entry and read
    lazily on the next lookup: nothing to skip, and no ``_files``."""
    return "_files" in invalidate_caches.__code__.co_names


def install_zip_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip the central-directory
    re-read when the archive's (inode, mtime, size) is unchanged since
    its last read; a changed, missing or unreadable archive goes through
    the original. Importers on one archive share the read, so an
    importer created before a rewrite picks up the new directory.
    Installs nothing where the original does not re-read eagerly.
    Idempotent; returns whether this call installed it."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_skips_unchanged", False) or not _rereads_eagerly(original):
        return False

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and _ZIP_STAMPS.get(self.archive) == stamp:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        original(self)
        if stamp is not None:
            _ZIP_STAMPS[self.archive] = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
    return True


def guard_worker_zip_imports() -> bool:
    """Install the zip guard if this interpreter is a Spark Python worker
    (never on the driver, whose imports are not re-invalidated per task).
    A worker has imported ``pyspark.core.files`` before it runs any task
    code; looking it up instead of importing keeps pyspark out of
    driver-side imports of stdlib-only modules such as the codec."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker) and install_zip_guard()


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _MARKER, False):
        return
    zip_path = os.path.join(tempfile.gettempdir(), f"{_PKG_NAME}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    setattr(sc, _MARKER, True)
