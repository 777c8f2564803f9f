"""Ship the engine package to executors and keep each Python task's fixed
cost down to its own work.

- ``ensure_shipped`` is the local-mode equivalent of ``spark-submit
  --py-files`` (the north rule's deployment mode). Executor Python
  workers don't inherit the driver process's ``sys.path`` patches, so any
  ``mapInArrow`` task that closes over engine code needs the package on
  the worker's import path. The package is zipped once
  (content-addressed, cached) and registered via ``addPyFile``.
- ``map_descriptors`` runs a task function over a small descriptor list
  (files, row groups) from a JVM-native ``spark.range`` source plus one
  broadcast, so the job has no Python stage besides the task itself.
- ``install_stat_checked_zip_reads`` (run on package import, so in every
  worker that unpickles engine code) stops CPython < 3.12 from re-reading
  every zip on ``sys.path`` at the start of each task.

Measured cause, 4-core host: PySpark calls ``importlib.invalidate_caches()``
at the start of every task, and CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the whole directory of the
archive once per package imported from it. For ``pyspark.zip`` that is 16
reads of 26,672 entries, 0.66 s of a 0.66 s no-op task; a no-op
``mapInArrow`` over ``spark.range`` took 0.33/1.18/2.23 s with 4/16/32
tasks against 0.10/0.12/0.17 s for the same jobs in the JVM alone.
"""

from __future__ import annotations

import hashlib
import os
import sys

_SHIPPED_SESSIONS: set[int] = set()


def _package_zip() -> str:
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    names = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for f in sorted(filenames):
            if f.endswith(".py"):
                names.append(os.path.join(dirpath, f))
    names.sort()
    h = hashlib.sha256()
    for n in names:
        h.update(n.encode())
        with open(n, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(tempfile.gettempdir(),
                       f"parquet_cpp_spark-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for n in names:
                z.write(n, os.path.relpath(n, root))
        os.replace(tmp, out)
    return out


def ensure_shipped(spark) -> None:
    """Idempotently attach the engine package to the session's executors."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_SESSIONS.add(key)


def slice_items(batches, items: list):
    """The descriptors one ``map_descriptors`` task owns, in order: the
    ``spark.range`` ids of its slice, looked up in ``items``. An empty
    slice yields nothing."""
    for batch in batches:
        for i in batch.column(0).to_pylist():
            yield items[i]


def map_descriptors(spark, items: list, n_slices: int, fn, schema):
    """``fn(descriptors)`` over ``items`` cut into ``n_slices`` contiguous
    slices, one task each, as a ``mapInArrow`` returning ``schema``.

    ``fn`` takes an iterator of the task's items (in ``items`` order) and
    yields record batches. The source is ``spark.range(0, len(items), 1,
    n_slices)``, whose slice bounds equal ``sc.parallelize(items,
    n_slices)``'s, so slice contents and the task-to-output mapping are
    the same as a parallelized list's. ``parallelize`` would add a Python
    ``map(lambda x: x)`` stage per task (PySpark's
    ``_to_java_object_rdd``) whose worker never imports the engine; the
    range is JVM-native. Items travel in one broadcast per job, so each
    task's payload does not grow with the descriptor count."""
    items = list(items)
    bc = spark.sparkContext.broadcast(items)

    def task(batches):
        return fn(slice_items(batches, bc.value))

    return spark.range(0, len(items), 1, n_slices).mapInArrow(task, schema)


def install_stat_checked_zip_reads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    differs from its value just before the last read, which the importers
    of one archive (one per package imported from it) share. A changed,
    removed or unreadable archive is handled exactly as before; only an
    in-place rewrite of equal size within one filesystem timestamp tick
    goes unseen. Idempotent; a no-op on CPython >= 3.12, whose
    ``invalidate_caches`` already defers the read."""
    import zipimport

    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_pcs_stat_checked", False):
        return
    # archive -> (stamp before the read, the directory dict it produced);
    # the importers of one archive (one per package in it) share a read
    reads: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        last = reads.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            zipimport._zip_directory_cache[self.archive] = last[1]
            self._files = last[1]
            return
        original(self)
        if stamp is not None \
                and self.archive in zipimport._zip_directory_cache:
            reads[self.archive] = (stamp, self._files)
        else:                 # gone or not a zip now: no shortcut
            reads.pop(self.archive, None)

    invalidate_caches._pcs_stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
