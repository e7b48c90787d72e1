"""SparkSession factory with the scale-oriented defaults used everywhere
(tests, bench, entry). UTC pinned for DuckDB-oracle comparisons; AQE on
(incl. skew-join splitting) per SURVEY.md §4.
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

# top-level module next to this package that starts the Python daemon from an
# unpacked pyspark (see its docstring)
WORKER_BOOT = "dq_worker_boot"
DAEMON_MODULE_CONF = "spark.python.daemon.module"


def worker_daemon_module(master: str, version: str, launch_path: list[str]) -> str | None:
    """WORKER_BOOT if the Python daemon of a session on ``master`` can start
    from it, else None (the stock daemon).

    ``launch_path`` is where the daemon looks for a module at launch: its cwd,
    then its PYTHONPATH. It can start from WORKER_BOOT when the driver imports
    that module from a directory on ``launch_path`` (not from a ``--py-files``
    archive, which reaches workers only per task), the master is local (so the
    driver's paths are the workers' paths) and an unpacked pyspark of the
    JVM's ``version`` exists.
    """
    if not re.fullmatch(r"local(\[[^\]]+\])?", master):
        return None
    spec = importlib.util.find_spec(WORKER_BOOT)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    home = os.path.dirname(os.path.realpath(spec.origin))
    if home not in {os.path.realpath(p) for p in launch_path if p}:
        return None
    boot = importlib.import_module(WORKER_BOOT)
    return WORKER_BOOT if boot.unpacked_pyspark(version, sys.path) else None


def _daemon_launch_path(sc: SparkContext) -> list[str]:
    """Where the daemon imports its module from at launch: its cwd (the
    JVM's), then the PYTHONPATH entries Spark puts after its own archives
    (the executor env's, then the JVM's)."""
    system = sc._jvm.System
    env_path = [sc.environment.get("PYTHONPATH"), system.getenv("PYTHONPATH")]
    return [system.getProperty("user.dir"),
            *(p for v in env_path if v for p in v.split(os.pathsep))]


def get_spark(app: str = "dataquality-cli-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with the package defaults.

    Python workers boot from an unpacked pyspark: when ``worker_daemon_module``
    allows it, ``spark.python.daemon.module`` names WORKER_BOOT, which starts
    the daemon with pyspark imported from a directory (the site-packages copy
    of the JVM's version first, else ``$SPARK_HOME/python``) instead of
    ``pyspark.zip``, so no task pays the zip re-scan of
    ``importlib.invalidate_caches()``. Otherwise (no matching pyspark, a
    non-local master, or WORKER_BOOT not importable at daemon launch, as under
    ``spark-submit --py-files``) the conf stays unset and the stock daemon
    runs. The conf is read when a Python runner starts, so it is set on the
    live SparkConf once ``sc.version`` is known.
    """
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores
    spark = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # huge `content` strings: bound Arrow batch memory (SURVEY.md §7)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # keep saveAsTable (bucketed-layout tests) out of the repo cwd
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dq_spark_warehouse"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    boot = worker_daemon_module(sc.master, sc.version, _daemon_launch_path(sc))
    if boot:
        sc._conf.set(DAEMON_MODULE_CONF, boot)
    return spark
