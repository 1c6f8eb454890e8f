"""Session layer: the Python-worker daemon and the sf-dir tier map."""

import os
import zipfile

import pytest

from inxs_spark.sources import session, worker_daemon
from inxs_spark.sources.io import write_json_atomic
from inxs_spark.sources.transcripts import tier_for_sf_dir


def test_python_tasks_import_pyspark_from_a_directory(spark):
    """Tasks run pyspark from its installed directory, so the per-task
    ``importlib.invalidate_caches()`` has no archive to re-read."""
    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield (
            os.path.isfile(pyspark.__file__),
            sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()),
        )

    seen = spark.sparkContext.parallelize(range(4), 4) \
        .mapPartitions(probe).collect()
    assert seen == [(True, 0)] * 4


def _package(root, name, version=None):
    pkg = os.path.join(root, name)
    os.makedirs(pkg)
    open(os.path.join(pkg, "__init__.py"), "w").close()
    if version is not None:
        with open(os.path.join(pkg, "version.py"), "w") as fh:
            fh.write(f'__version__: str = "{version}"\n')


@pytest.fixture()
def spark_lib(tmp_path):
    """A Spark-style python/lib: pyspark.zip at version 4.1.2 and a
    py4j source zip."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = str(lib / "pyspark.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    return [pyspark_zip, py4j_zip]


def test_daemon_path_drops_archives_for_same_version_directory(
        tmp_path, spark_lib):
    site = str(tmp_path / "site")
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j")
    path = ["/work", *spark_lib, site]
    assert worker_daemon.without_spark_archives(path) == ["/work", site]


@pytest.mark.parametrize("installed", [
    {"py4j": None},                          # no directory pyspark
    {"pyspark": "4.0.0", "py4j": None},      # version mismatch
    {"pyspark": "4.1.2"},                    # no directory py4j
])
def test_daemon_path_unchanged_without_matching_pyspark(
        tmp_path, spark_lib, installed):
    site = str(tmp_path / "site")
    for name, version in installed.items():
        _package(site, name, version)
    path = ["/work", *spark_lib, site]
    assert worker_daemon.without_spark_archives(path) is path
    assert path == ["/work", *spark_lib, site]


def test_daemon_module_needs_an_importable_package(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session.worker_daemon_module("local[2]") == \
        session.WORKER_DAEMON_MODULE
    assert session.worker_daemon_module("spark://host:7077") is None
    monkeypatch.chdir(tmp_path)
    assert session.worker_daemon_module("local[2]") is None
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", root]))
    assert session.worker_daemon_module("local[2]") == \
        session.WORKER_DAEMON_MODULE


def test_tier_for_sf_dir():
    assert tier_for_sf_dir("/data/sf0.001") == "tiny"
    assert tier_for_sf_dir("/data/sf0.1/") == "bench"
    assert tier_for_sf_dir("/data/sf1.0") == "scale"
    with pytest.raises(ValueError, match="sf10.*known.*sf1.0"):
        tier_for_sf_dir("/data/sf10")


def test_write_json_atomic_lines_and_failed_replace(tmp_path, monkeypatch):
    """A list is written as JSON Lines; when the final rename fails the
    old file is untouched and the temp file is removed."""
    path = str(tmp_path / "m" / "rec.json")
    write_json_atomic(path, [{"a": 1}, {"a": 2}])
    assert open(path).read() == '{"a": 1}\n{"a": 2}\n'

    def fail(src, dst):
        raise OSError("disk gone")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="disk gone"):
        write_json_atomic(path, {"a": 3})
    assert open(path).read() == '{"a": 1}\n{"a": 2}\n'
    assert os.listdir(tmp_path / "m") == ["rec.json"]
