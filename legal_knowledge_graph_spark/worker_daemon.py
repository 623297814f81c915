"""Spark's Python worker daemon, with zip import caches that survive
unchanged archives.

Every Python task (``mapInPandas``, ``mapInArrow``, ``pandas_udf``)
starts with ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()`` so that files added with
``addPyFile`` become importable. Before Python 3.13 that makes every
``zipimport.zipimporter`` re-read its whole archive directory: a worker
holds one importer per package it imported from ``pyspark.zip`` (1,328
entries) and the py4j zip, so each task paid about 0.2 CPU-s before
it touched a row (4-vCPU Xeon VM, Python 3.11; ``tools/py_task_cost.py``).
Python 3.13 made the re-read lazy.

On older Pythons, ``install()`` tags every directory read with the
archive's ``(st_mtime_ns, st_ctime_ns, st_size, st_ino)`` taken just
before the read, and makes ``zipimporter.invalidate_caches`` re-read
only when the archive's current stat differs from the tag of the
directory that importer holds. A rewritten archive is re-read exactly
as before, ``FileFinder`` caches are still invalidated, and a zip added
with ``addPyFile`` gets a new importer; only re-reads of unchanged
archives go away.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts it as ``python -m`` in place of
``pyspark.daemon``. It installs the patch and then hands over to
``pyspark.daemon.manager()``, which forks every worker with the patch
in place. Importing the module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

NEEDED = sys.version_info < (3, 13)


class _Directory(dict):
    """A zip archive's file directory, tagged with the archive's stat
    key taken just before it was read."""

    __slots__ = ("stat_key",)


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Patch ``zipimport`` in this process; a no-op when already done
    or on Python 3.13+. Importers made before the patch hold untagged
    directories, so they are re-read here once instead of on the first
    task of every forked worker."""
    if not NEEDED or getattr(zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False):
        return
    read_directory = zipimport._read_directory
    invalidate_caches = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        # stat first: a change racing the read leaves a tag older than
        # the content, which costs one extra re-read, never a stale one
        key = _stat_key(archive)
        files = _Directory(read_directory(archive))
        files.stat_key = key
        return files

    def _invalidate_caches(self):
        key = getattr(self._files, "stat_key", None)
        if key is not None and key == _stat_key(self.archive):
            return
        invalidate_caches(self)

    _invalidate_caches._skips_unchanged = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    install()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run under the module's own name, so the installed functions
    # report it as their __module__ instead of "__main__"
    from legal_knowledge_graph_spark.worker_daemon import main as _main

    _main()
