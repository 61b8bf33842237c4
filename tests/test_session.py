"""The local session's Python workers import pyspark from its installed
package, not from Spark's archives (macrobase_spark.worker_daemon).

Structural asserts only: which importers a worker holds, which pyspark it
runs, what the path filter keeps. No timing."""

import os
import zipfile

import pyspark

from macrobase_spark import session
from macrobase_spark.worker_daemon import worker_path


def test_worker_imports_installed_pyspark_and_holds_no_zipimporter(spark):
    def worker_state(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        importlib.invalidate_caches()
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pyspark": [worker_pyspark.__file__], "zips": [repr(zips)]})

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "macrobase_spark.worker_daemon")
    rows = spark.range(1).coalesce(1).mapInArrow(
        worker_state, "pyspark string, zips string").collect()
    assert [(r["pyspark"], r["zips"]) for r in rows] == [
        (pyspark.__file__, "[]")]


def _archives(tmp_path, version: bytes) -> list[str]:
    """Fake Spark archives: a pyspark.zip whose version.py is `version`,
    a py4j source zip and a spark-core jar."""
    pyspark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version)
    py4j_zip = tmp_path / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"")
    return [str(pyspark_zip), str(py4j_zip), str(jar)]


def _installed_version() -> bytes:
    with open(os.path.join(os.path.dirname(pyspark.__file__),
                           "version.py"), "rb") as f:
        return f.read()


def test_filter_keeps_path_when_pyspark_is_only_in_the_archive(tmp_path):
    user = tmp_path / "user"
    user.mkdir()
    path = _archives(tmp_path, _installed_version()) + [str(user)]
    assert worker_path(path) is path


def test_filter_drops_only_spark_archives(tmp_path):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    user_zip = tmp_path / "user" / "deps.zip"
    user_zip.parent.mkdir()
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("deps_mod.py", "")
    path = (_archives(tmp_path, _installed_version())
            + [str(user_zip), site])
    assert worker_path(path) == [str(user_zip), site]


def test_filter_keeps_path_when_installed_pyspark_is_another_release(
        tmp_path):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    path = _archives(tmp_path, b"__version__: str = '0.0.0'\n") + [site]
    assert worker_path(path) is path


def test_daemon_module_set_only_when_workers_import_the_package(
        tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(session.__file__))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._workers_import_package(None)
    assert session._workers_import_package(
        {"spark.executorEnv.PYTHONPATH": root})
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._workers_import_package(None)


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf: dict[str, str] = {}
        self.sparkContext = self

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self

    def setLogLevel(self, level):
        pass


def _session_conf(monkeypatch, **kw) -> dict[str, str]:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        type("SparkSession", (), {"builder": builder}))
    session.get_spark(**kw)
    return builder.conf


def test_spark_submit_keeps_its_master(monkeypatch):
    """Launched by spark-submit (PYSPARK_GATEWAY_PORT set) with no master
    argument, get_spark sets neither the master nor the shuffle partition
    count, so --master and --conf stand; an explicit master still wins,
    and a plain process gets local[$SPARK_GRAFT_CPUS]."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = _session_conf(monkeypatch)
    assert conf["master"] == "local[5]"
    assert conf["spark.sql.shuffle.partitions"] == "5"

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = _session_conf(monkeypatch)
    assert "master" not in conf
    assert "spark.sql.shuffle.partitions" not in conf
    assert "spark.python.daemon.module" not in conf
    assert _session_conf(monkeypatch, shuffle_partitions=7)[
        "spark.sql.shuffle.partitions"] == "7"

    conf = _session_conf(monkeypatch, master="local[3]")
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
