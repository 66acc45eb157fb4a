"""The package's PySpark daemon (``ome_arrow_spark.worker_daemon``):
``zipimporter.invalidate_caches`` re-reads an archive only when its stat
changed, without Spark; and in the ``get_spark`` session the workers run
the patched method, import a zip added after their first task, and
re-read pyspark.zip on no later task."""

from __future__ import annotations

import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from ome_arrow_spark import worker_daemon


def _write_module_zip(path, name: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value}\n")


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's patch for one test (undone after it) and
    record every ``zipimport._read_directory`` call."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    worker_daemon.install()
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_read_once(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_module_zip(path, "wd_unchanged", 1)
    importer = zipimport.zipimporter(path)
    assert reads == [path]  # the constructor's read
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path, path]  # first invalidation reads, second does not
    assert _load(importer, "wd_unchanged").VALUE == 1


def test_install_seeds_existing_importers(tmp_path, monkeypatch, reads):
    path = str(tmp_path / "seeded.zip")
    _write_module_zip(path, "wd_seeded", 1)
    importer = zipimport.zipimporter(path)
    monkeypatch.setitem(sys.path_importer_cache, path, importer)
    worker_daemon.install()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path]  # only the constructor's read


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_module_zip(path, "wd_rewritten", 1)
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert _load(importer, "wd_rewritten").VALUE == 1
    before = os.stat(path)
    _write_module_zip(path, "wd_rewritten", 2)  # same size, same inode
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    assert os.stat(path).st_size == before.st_size
    del reads[:]
    importer.invalidate_caches()
    assert reads == [path]
    assert _load(importer, "wd_rewritten").VALUE == 2


def test_deleted_archive_takes_the_original_path(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_module_zip(path, "wd_deleted", 1)
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    os.remove(path)
    del reads[:]
    importer.invalidate_caches()
    assert reads == [path]  # the unpatched method tried to read it
    assert importer.find_spec("wd_deleted") is None


def test_workers_run_the_patched_method(spark, tmp_path):
    sc = spark.sparkContext

    def probe(rows):
        """Per worker process: the first call wraps ``_read_directory`` in
        a counter; each later call reports the pyspark.zip reads since the
        previous call (so the reads of that task's set-up), and the third
        call restores the real function.  The input is drained: a worker
        that leaves input unread exits instead of serving the next task."""
        import os
        import zipimport

        for _ in rows:
            pass

        method = zipimport.zipimporter.invalidate_caches
        where = (method.__qualname__, method.__code__.co_filename)
        state = getattr(zipimport, "_probe_state", None)
        if state is None:
            real = zipimport._read_directory
            state = zipimport._probe_state = {"real": real, "paths": [], "calls": 0}

            def counting(path):
                state["paths"].append(path)
                return real(path)

            zipimport._read_directory = counting
            yield os.getpid(), None, where
            return
        state["calls"] += 1
        n = sum(os.path.basename(p) == "pyspark.zip" for p in state["paths"])
        state["paths"].clear()
        if state["calls"] == 2:
            zipimport._read_directory = state["real"]
            del zipimport._probe_state
        yield os.getpid(), n, where

    readings: dict[int, list[int]] = {}
    where = set()
    # Single-task jobs draw workers from the idle queue in turn, so each
    # worker comes round again; stop once one worker ran two more tasks.
    for _ in range(60):
        [(pid, n, w)] = sc.parallelize([0], 1).mapPartitions(probe).collect()
        where.add(w)
        if n is not None:
            readings.setdefault(pid, []).append(n)
            if len(readings[pid]) == 2:
                break
    [(qualname, filename)] = where
    assert qualname == "_invalidate_caches"
    assert os.path.realpath(filename) == os.path.realpath(worker_daemon.__file__)
    assert [0, 0] in readings.values(), readings
    assert all(n == 0 for ns in readings.values() for n in ns), readings

    # A zip written and added after the workers ran tasks still imports.
    name = f"wd_late_{uuid.uuid4().hex}"
    late = tmp_path / f"{name}.zip"
    _write_module_zip(late, name, 7)
    sc.addPyFile(str(late))

    def import_late(rows):
        import importlib

        for _ in rows:
            pass
        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0, 1], 2).mapPartitions(import_late).collect() == [7, 7]
