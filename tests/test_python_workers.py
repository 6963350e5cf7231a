"""Python workers: the stamped zip importer of ``worker_daemon`` and the
worker environment ``session.get_spark`` sets up.

The importer tests run in this process on temporary archives. The worker
tests run inside ``mapInPandas`` tasks of the test session, and one runs a
fresh driver from a foreign cwd.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from m2_b3_market_data_pipeline_spark.worker_daemon import StampedZipImporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def count_reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from now on."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def on_path(monkeypatch):
    """Put an archive on ``sys.path`` behind a stamped importer."""
    added_modules: list[str] = []

    def put(archive: str, *modules: str) -> StampedZipImporter:
        importer = StampedZipImporter(archive)
        monkeypatch.setattr(sys, "path", [archive, *sys.path])
        monkeypatch.setitem(sys.path_importer_cache, archive, importer)
        added_modules.extend(modules)
        return importer

    yield put
    for name in added_modules:
        sys.modules.pop(name, None)


@pytest.fixture
def archive(tmp_path):
    """A path for a temporary archive, dropped from zipimport's cache after."""
    path = str(tmp_path / "lib.zip")
    yield path
    zipimport._zip_directory_cache.pop(path, None)


def test_rewritten_zip_is_reread_and_its_new_module_imports(archive, on_path, count_reads):
    tag = uuid.uuid4().hex[:8]
    first, second = f"zipmod_a_{tag}", f"zipmod_b_{tag}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    on_path(archive, first, second).invalidate_caches()  # stamps the archive
    assert importlib.import_module(first).VALUE == 1
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(second)

    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads.count(archive) == 1
    assert importlib.import_module(second).VALUE == 2


def test_unchanged_zip_is_not_reread(archive, on_path, count_reads):
    _write_zip(archive, {"unused": "VALUE = 1\n"})
    # two importers of one archive, as pyspark.zip has one per subpackage
    importers = [on_path(archive), StampedZipImporter(archive)]
    for importer in importers:
        importer.invalidate_caches()  # a new importer's first call reads
    count_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
        for importer in importers:
            importer.invalidate_caches()
    assert archive not in count_reads


def test_deleted_archive_behaves_as_with_the_stock_importer(archive, count_reads):
    module = f"zipmod_gone_{uuid.uuid4().hex[:8]}"
    _write_zip(archive, {module: "VALUE = 1\n"})
    stamped, stock = StampedZipImporter(archive), zipimport.zipimporter(archive)
    stamped.invalidate_caches()
    assert stamped.find_spec(module) is not None
    os.remove(archive)
    count_reads.clear()
    for importer in (stamped, stock):
        importer.invalidate_caches()
        assert importer._files == {}
        assert importer.find_spec(module) is None
        assert archive not in zipimport._zip_directory_cache
    # a missing archive is retried on every call, as with the stock importer
    stamped.invalidate_caches()
    assert count_reads == [archive] * 3


def test_worker_rereads_only_a_changed_archive(spark):
    # nested, so that cloudpickle ships it by value
    def invalidate_in_task(batches):
        import importlib
        import os
        import sys
        import tempfile
        import uuid
        import zipfile
        import zipimport

        import pandas as pd

        def write_zip(path, modules):
            with zipfile.ZipFile(path, "w") as zf:
                for name, source in modules.items():
                    zf.writestr(f"{name}.py", source)

        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        for _ in batches:
            pass
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            unchanged_reads = len(calls)
            # an archive put on the path in the task goes through the path hook
            tag = uuid.uuid4().hex[:8]
            first, second = f"task_a_{tag}", f"task_b_{tag}"
            with tempfile.TemporaryDirectory() as tmp:
                archive = os.path.join(tmp, "lib.zip")
                write_zip(archive, {first: "VALUE = 1\n"})
                sys.path.insert(0, archive)
                try:
                    importlib.import_module(first)
                    write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
                    del calls[:]
                    importlib.invalidate_caches()
                    changed_reads = calls.count(archive)
                    value = importlib.import_module(second).VALUE
                    hook = type(sys.path_importer_cache[archive]).__name__
                finally:
                    sys.path.remove(archive)
                    sys.path_importer_cache.pop(archive, None)
                    zipimport._zip_directory_cache.pop(archive, None)
        finally:
            zipimport._read_directory = real
        importers = [
            f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        yield pd.DataFrame(
            {
                "unchanged_reads": [unchanged_reads],
                "zip_importers": [len(importers)],
                "stamped": [all(type(f).__name__ == "StampedZipImporter" for f in importers)],
                "changed_reads": [changed_reads],
                "value": [value],
                "hook": [hook],
            }
        )

    schema = (
        "unchanged_reads long, zip_importers long, stamped boolean, "
        "changed_reads long, value long, hook string"
    )
    rows = spark.range(8).repartition(4).mapInPandas(invalidate_in_task, schema).collect()
    assert len(rows) == 4
    for row in rows:
        # pyspark.zip and the spark-core jar sit in the worker's path cache
        assert row.zip_importers > 0 and row.stamped
        assert row.unchanged_reads == 0
        assert row.hook == "StampedZipImporter"
        assert row.changed_reads == 1 and row.value == 2


def test_zip_shipped_with_add_py_file_imports_in_a_task(spark, tmp_path):
    module = f"shipped_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / f"{module}.zip")
    _write_zip(archive, {module: "def value():\n    return 42\n"})
    spark.sparkContext.addPyFile(archive)

    def use_shipped(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(module).value()
        for batch in batches:
            yield pd.DataFrame({"v": [value] * len(batch)})

    rows = spark.range(4).repartition(2).mapInPandas(use_shipped, "v long").collect()
    assert [r.v for r in rows] == [42] * 4


def test_workers_start_from_a_foreign_cwd_without_pythonpath(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from m2_b3_market_data_pipeline_spark.session import get_spark

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        spark = get_spark("foreign-cwd", master="local[2]", shuffle_partitions=2)
        rows = spark.range(3).mapInPandas(double, "id long").collect()
        print("IDS", sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "IDS [0, 2, 4]" in out.stdout, out.stderr[-3000:]
