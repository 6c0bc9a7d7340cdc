"""Task-memory hygiene for reused Python workers.

Spark reuses Python workers across tasks (``spark.python.worker.reuse``
default true), so each decode/encode task's peak allocations linger as
free-but-resident glibc arenas and Arrow memory-pool slabs in up to
``cores`` idle workers.  Measured on the bench host: 32 idle workers
held 5.7 GB aggregate RSS after one full-corpus decode, which pushed
the machine into its parallel-memcpy collapse envelope
(BENCH/BASELINE.md) and slowed an UNRELATED JVM-side parquet write
13x.  On a memory-capped multi-executor cluster the same residue eats
container headroom and invites the OOM killer between Python stages.

``trimmed`` wraps a ``mapInArrow`` generator so the worker hands freed
memory back to the OS the moment its task stream ends: Arrow pool
first (jemalloc retains freed slabs by design), then glibc
``malloc_trim``.  Cost: one pool sweep + one libc call per TASK (not
per batch) — microseconds against a multi-second task.

A second, CPU-side toll is fixed per task: PySpark's worker calls
``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py::setup_spark_files``), and on Python 3.10–3.12
each ``zipimporter`` on ``sys.path`` answers by re-reading its whole
archive directory (3.13 made that lazy).  A worker of a
``session.get_session`` session carries 20 of them — 12 on the
1,328-entry ``pyspark.zip``, two each on the spark-core jar and py4j,
four on the shipped ``boltspark.zip`` — and re-reading them all took
0.13-0.22 s of CPU per task on a 4-vCPU host before any engine code
ran (0.1-0.2 ms with the wrapper below).

Importing this module (every engine UDF does, through ``trimmed``)
wraps ``zipimporter.invalidate_caches`` so an archive is re-read only
when its ``(st_ino, st_size, st_mtime_ns)`` changed since that
importer last read it.  It fails closed: when the archive cannot be
``stat``-ed, or a re-read failed, the original re-read runs.  An
importer's first call after the patch always re-reads (no signature
yet), so a worker pays the old cost once, not per task.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_libc = None


def _get_libc():
    global _libc
    if _libc is None:
        try:
            import ctypes

            _libc = ctypes.CDLL("libc.so.6")
        except OSError:  # non-glibc platform: Arrow trim still applies
            _libc = False
    return _libc


def trim_task_memory() -> None:
    """Release freed-but-resident memory back to the OS (best effort)."""
    try:
        import pyarrow as pa

        pa.default_memory_pool().release_unused()
    except Exception:
        pass
    libc = _get_libc()
    if libc:
        try:
            libc.malloc_trim(0)
        except Exception:
            pass


def trimmed(gen_fn):
    """Wrap a mapInArrow generator: trim worker memory when the task's
    batch stream ends (including on error), so reused workers do not
    accumulate resident arenas across tasks."""

    @functools.wraps(gen_fn)
    def _gen(batches):
        try:
            yield from gen_fn(batches)
        finally:
            trim_task_memory()

    return _gen


def _archive_sig(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _lazy_zip_invalidation(orig):
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's stat signature is the one of this importer's
    last read (kept on the importer: several importers share one
    archive and each holds its own directory)."""

    @functools.wraps(orig)
    def invalidate_caches(self):
        try:
            sig = _archive_sig(self.archive)
        except (OSError, ValueError):
            self._boltspark_sig = None
            return orig(self)
        if sig == getattr(self, "_boltspark_sig", None):
            return None
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # signature, so the next call re-reads (never the other way)
        orig(self)
        # a failed read empties the directory; keep re-trying it
        ok = self.archive in zipimport._zip_directory_cache
        self._boltspark_sig = sig if ok else None
        return None

    invalidate_caches._boltspark_lazy = True
    return invalidate_caches


def _patch_zipimport() -> None:
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) \
            or getattr(cls.invalidate_caches, "_boltspark_lazy", False):
        return
    cls.invalidate_caches = _lazy_zip_invalidation(cls.invalidate_caches)


_patch_zipimport()
