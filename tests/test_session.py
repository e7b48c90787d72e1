"""Python worker boot path: workers import pyspark from an unpacked
directory when the boot module can start the daemon, and the stock daemon
runs, unchanged, when it cannot."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark
import pytest

import dq_worker_boot
from dataquality_cli_spark.session import (
    DAEMON_MODULE_CONF, WORKER_BOOT, worker_daemon_module)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_from_a_directory(spark):
    def where(batches):  # nested: pickled by value, workers need no tests/
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [json.dumps(zips)]})

    assert spark.sparkContext.getConf().get(DAEMON_MODULE_CONF) == WORKER_BOOT
    rows = (spark.range(0, 4, numPartitions=4)
            .mapInPandas(where, "file string, zips string").collect())
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.file, r.file
        assert json.loads(r.zips) == []


def test_unpacked_pyspark_prefers_the_interpreters_copy():
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    assert dq_worker_boot.unpacked_pyspark(pyspark.__version__, sys.path) == site
    assert dq_worker_boot.unpacked_pyspark("0.0.0", sys.path) is None


def test_worker_daemon_module_gate(spark):
    version = spark.sparkContext.version
    assert worker_daemon_module("local[2]", version, [REPO]) == WORKER_BOOT
    assert worker_daemon_module("local", version, ["/nonexistent", REPO]) == WORKER_BOOT
    # boot module not on the daemon's launch path
    assert worker_daemon_module("local[2]", version, ["/nonexistent"]) is None
    # no unpacked pyspark of the JVM's version
    assert worker_daemon_module("local[2]", "0.0.0", [REPO]) is None
    # a cluster's executors do not share the driver's paths
    assert worker_daemon_module("spark://host:7077", version, [REPO]) is None
    assert worker_daemon_module("local-cluster[2,1,1024]", version, [REPO]) is None


FALLBACK = """
import json, sys
sys.path.insert(0, {repo!r})
{patch}
import pandas as pd
from dataquality_cli_spark.session import DAEMON_MODULE_CONF, get_spark


def where(batches):
    import pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({{"file": [pyspark.__file__]}})


spark = get_spark(master="local[2]", shuffle_partitions=2)
row = spark.range(0, 2, numPartitions=2).mapInPandas(where, "file string").first()
print(json.dumps({{"conf": spark.sparkContext.getConf().get(DAEMON_MODULE_CONF),
                  "file": row.file}}))
spark.stop()
"""


@pytest.mark.parametrize("case", ["not_importable", "no_matching_pyspark"])
def test_stock_daemon_fallback(case, tmp_path):
    """From a cwd where the boot module is not importable at daemon launch,
    or with no unpacked pyspark of the JVM's version, the conf stays unset
    and a pandas UDF runs on the stock daemon (pyspark from the zip)."""
    if case == "not_importable":
        cwd, patch = str(tmp_path), ""
    else:
        cwd = REPO
        patch = "import dq_worker_boot; dq_worker_boot.unpacked_pyspark = lambda *a: None"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", FALLBACK.format(repo=REPO, patch=patch)],
        capture_output=True, text=True, timeout=300, cwd=cwd, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["conf"] is None
    assert ".zip" in got["file"], got
