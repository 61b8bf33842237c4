"""SparkSession factory with the settings this engine assumes.

Local-mode defaults are tuned for the sandbox (local[32], single JVM); on a
real cluster the same builder args apply minus master/driver-memory, and AQE
handles runtime re-planning (skew joins, partition coalescing) at 100 TB.

Python workers: for ``local[...]`` masters the driver and the workers share
the interpreter and the filesystem, so ``spark.python.daemon.module`` is set
to ``macrobase_spark.worker_daemon``. Its workers import pyspark from the
installed package rather than from Spark's ``pyspark.zip``, which saves
each Python task ~230 ms of CPU spent re-reading Spark's archives in
``importlib.invalidate_caches()``. It falls back to the stock daemon
behaviour when the installed pyspark is missing or another release than
Spark's, and the conf is only set when a worker can import this package
(its root is the working directory, on PYTHONPATH or in site-packages).
Cluster sessions keep Spark's default daemon; ``extra_conf`` overrides.

Under spark-submit (it hands the process its gateway in
``PYSPARK_GATEWAY_PORT``) with no ``master`` argument, the master and the
shuffle partition count are left to the launcher's command line: a
builder master would override ``--master`` and silently run a local
session on the driver.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "macrobase_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    # spark-submit hands the process its gateway: its --master stands
    launched = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if not launched:
        master = master or f"local[{cpus}]"
        builder = builder.master(master)
        if shuffle_partitions is None:
            # local mode: ~cores, not the 200 default (huge small-task
            # overhead at test scale; on a cluster you size this to data
            # volume instead).
            n = (master[master.find("[") + 1 : master.find("]")]
                 if "[" in master else "32")
            shuffle_partitions = cpus if n == "*" else int(n)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parallelize reads of small/medium files too (local benches read
        # single-file tables; at cluster scale file count dominates anyway)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    local = master is not None and (master == "local"
                                    or master.startswith("local["))
    if local and _workers_import_package(extra_conf):
        builder = builder.config("spark.python.daemon.module",
                                 "macrobase_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _workers_import_package(extra_conf: dict[str, str] | None) -> bool:
    """Whether a local Python worker finds this package: it starts in the
    driver's working directory with PYTHONPATH, spark.executorEnv.PYTHONPATH
    and the interpreter's site-packages on its path."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    path = [os.getcwd(), *site.getsitepackages(),
            *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *(extra_conf or {}).get("spark.executorEnv.PYTHONPATH",
                                    "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == root for p in path)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
