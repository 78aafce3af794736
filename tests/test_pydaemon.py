"""The worker daemon's zipimporter: an archive is re-read only when it
changed, and the daemon entry is what Python workers run under
``session.get_session``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from s2js_spark.spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``m1`` on ``sys.path``, imported, with the
    engine's ``invalidate_caches`` in place; yields (path, importer,
    read counter)."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m1

    assert m1.X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, importer, reads
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, _importer, reads = zip_on_path
    importlib.invalidate_caches()  # first call: no stamp yet, reads once
    assert reads.count(archive) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_reread(zip_on_path):
    archive, _importer, reads = zip_on_path
    importlib.invalidate_caches()
    _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import m2

    assert m2.Y == 2


def test_deleted_archive_matches_stock(zip_on_path):
    archive, importer, _reads = zip_on_path
    importlib.invalidate_caches()
    stock = zipimport.zipimporter(archive)
    os.unlink(archive)
    importlib.invalidate_caches()
    pydaemon._stock_invalidate_caches(stock)
    assert importer._files == stock._files == {}
    assert archive not in zipimport._zip_directory_cache
    # the archive coming back is read again, whatever its stamp was
    _write_zip(archive, {"m1": "X = 1\n"})
    importlib.invalidate_caches()
    assert "m1.py" in importer._files


@pytest.fixture(scope="module")
def spark():
    from s2js_spark.spark.session import get_session

    s = get_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_workers_run_the_engine_daemon(spark):
    from pyspark.sql import functions as F

    @F.udf("string")
    def worker_invalidate(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    got = {r[0] for r in spark.range(4, numPartitions=2).select(worker_invalidate("id")).collect()}
    assert got == {pydaemon.invalidate_caches_if_changed.__qualname__}


def test_added_pyfile_importable_in_next_task(spark, tmp_path):
    from pyspark.sql import functions as F

    def probe():
        # a UDF captures the session's pyFiles when first used, so each
        # task below gets a fresh one
        @F.udf("long")
        def added_value(x):
            import importlib

            try:
                return importlib.import_module("s2js_added_mod").VALUE + x
            except ImportError:
                return -1

        return [r[0] for r in spark.range(2, numPartitions=1).select(added_value("id")).collect()]

    assert probe() == [-1, -1]
    archive = tmp_path / "s2js_added.zip"
    _write_zip(archive, {"s2js_added_mod": "VALUE = 40\n"})
    spark.sparkContext.addPyFile(str(archive))
    try:
        assert probe() == [40, 41]
    finally:
        sys.modules.pop("s2js_added_mod", None)
        sys.path[:] = [p for p in sys.path if not p.endswith(archive.name)]
