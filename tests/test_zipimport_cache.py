"""memutil's lazy zip-directory invalidation: PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on Python
< 3.13 each ``zipimporter`` then re-reads its whole archive directory.
With ``boltspark.engine.memutil`` imported, an archive is re-read only
when its stat signature changed; when it cannot be stat-ed, the
original re-read runs."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from boltspark.engine import memutil  # importing it installs the patch

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily from Python 3.13; no patch applies")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive on ``sys.path`` (names unique per test, so
    no importer or module leaks between tests), plus a counter of
    ``zipimport._read_directory`` calls on that archive."""
    tag = uuid.uuid4().hex[:8]
    archive = tmp_path / f"mods_{tag}.zip"
    first = f"zmod_a_{tag}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    orig = zipimport._read_directory

    def counted(path):
        if path == str(archive):
            reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    mod = importlib.import_module(first)
    assert mod.VALUE == 1
    yield archive, tag, reads
    for name in [n for n in sys.modules if n.endswith(tag)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_invalidate_is_wrapped():
    assert getattr(zipimport.zipimporter.invalidate_caches,
                   "_boltspark_lazy", False)


def test_unchanged_archive_is_read_at_most_once(zip_on_path):
    _, _, reads = zip_on_path
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1
    importlib.invalidate_caches()
    assert len(reads) <= 1


def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path):
    archive, tag, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()
    second = f"zmod_b_{tag}"
    _write_zip(archive, {f"zmod_a_{tag}": "VALUE = 1\n",
                         second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(second).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_unstatable_archive_runs_the_original_reread(zip_on_path,
                                                     monkeypatch):
    archive, _, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()

    def no_stat(path):
        raise OSError("stat refused")

    with monkeypatch.context() as mp:
        mp.setattr(memutil, "_archive_sig", no_stat)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
    assert len(reads) == 2
    # a vanished archive: the original re-read runs and empties it
    archive.unlink()
    importer = sys.path_importer_cache[str(archive)]
    importer.invalidate_caches()
    assert importer._files == {}


def test_worker_task_sees_the_wrapped_method(spark):
    """Inside a ``trimmed`` mapInArrow task the worker has imported
    memutil, so its zipimporters re-read lazily from the next
    ``invalidate_caches`` on."""
    import pyarrow as pa

    @memutil.trimmed
    def probe(batches):
        import zipimport as zi

        flag = bool(getattr(zi.zipimporter.invalidate_caches,
                            "_boltspark_lazy", False))
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"lazy": [flag] * b.num_rows})

    rows = (spark.range(4, numPartitions=2)
            .mapInArrow(probe, "lazy boolean").collect())
    assert len(rows) == 4
    assert all(r["lazy"] for r in rows)
