"""zipimport_guard: ``importlib.invalidate_caches()`` re-reads a zip archive
on sys.path only when the archive changed, on the driver and on Python-UDF
workers; plus the per-SparkContext scoping of the jsonc UDFs."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from json_format_in_parquet_benchmark_spark import zipimport_guard
from json_format_in_parquet_benchmark_spark.formats import jsonc_tape

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

guard_only_before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard is a no-op on Python >= 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive on sys.path holding ``zg_a``; yields (archive, importer)."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zg_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zg_a")
    yield archive, sys.path_importer_cache[archive]
    for name in ("zg_a", "zg_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_package_import_installs_the_guard_once():
    before = zipimport.zipimporter.invalidate_caches
    assert hasattr(before, "__wrapped__") == (sys.version_info < (3, 13))
    zipimport_guard.install()
    assert zipimport.zipimporter.invalidate_caches is before


@guard_only_before_313
def test_unchanged_zip_is_not_reread(zip_on_path, directory_reads):
    archive, importer = zip_on_path
    # the unguarded method re-reads on every call -- what the guard removes
    zipimport.zipimporter.invalidate_caches.__wrapped__(importer)
    assert directory_reads == [archive]
    importlib.invalidate_caches()  # records the stamp (first guarded call)
    directory_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in directory_reads


def test_rewritten_zip_is_reread(zip_on_path):
    archive, _ = zip_on_path
    importlib.invalidate_caches()
    _write_zip(archive, {"zg_a": "X = 1\n", "zg_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_b").Y == 2


@guard_only_before_313
def test_unstatable_zip_is_reread(zip_on_path, directory_reads):
    archive, importer = zip_on_path
    importlib.invalidate_caches()
    os.remove(archive)
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == [archive]
    assert importer._files == {}


def test_guard_active_on_python_workers(spark):
    """A worker that unpickles an engine UDF runs with the guard: after one
    guarded invalidation, the next reads no zip directory, though the worker
    has zip importers (pyspark.zip) on its path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def report(ids):
        import importlib as il
        import zipimport as zi

        assert jsonc_tape.OP_NULL == 0  # unpickling this imports the engine
        real = zi._read_directory
        reads = []
        zi._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            il.invalidate_caches()
            reads.clear()
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zi.zipimporter)
        ]
        out = {
            "guarded": hasattr(zi.zipimporter.invalidate_caches, "__wrapped__"),
            "zip_importers": len(zips),
            "reads": len(reads),
        }
        return ids.map(lambda _: json.dumps(out))

    df = spark.range(1, numPartitions=1).select(report("id").alias("r"))
    df.collect()
    out = json.loads(df.collect()[0]["r"])
    assert out["zip_importers"] > 0
    assert out["reads"] == 0 or sys.version_info >= (3, 13)
    assert out["guarded"] == (sys.version_info < (3, 13))


TWO_SESSIONS = textwrap.dedent(
    """
    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
        JsoncTapeFormat,
        get_path_udf,
    )
    from json_format_in_parquet_benchmark_spark.session import get_spark

    docs = [('{"a": {"b": "x%d"}}' % i,) for i in range(8)]
    for _ in range(2):
        spark = get_spark(app_name="jfipb-two-sessions", cpus=2)
        tape = JsoncTapeFormat().encode(spark.createDataFrame(docs, "doc string"))
        got = tape.select(get_path_udf(("a", "b"))("nodes", "strings", "numbers"))
        assert sorted(r[0] for r in got.collect()) == ["x%d" % i for i in range(8)]
        assert JsoncTapeFormat().decode(tape).count() == 8
        spark.stop()
    """
)


def test_jsonc_udfs_follow_the_spark_context():
    """Two sessions in one process: the jsonc UDFs of the second must report
    to the second SparkContext's accumulator, not the stopped first one.
    Runs in a subprocess so the shared session fixture is untouched."""
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", TWO_SESSIONS],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Failed to update accumulator" not in proc.stderr
    assert "EOF reached before Python server acknowledged" not in proc.stderr
