"""Start the PySpark worker daemon from an unpacked pyspark.

Spark launches its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j ``-src.zip`` and the spark-core jar first on ``sys.path``, so the
daemon and every worker it forks import pyspark from the zip. Each task then
runs ``worker_util.setup_spark_files``, whose ``importlib.invalidate_caches()``
makes every cached ``zipimporter`` re-read its archive's central directory
(1,328 entries in the pyspark zip, 5,359 in the jar): 0.25 s per task on a
4-core VM, against 0.0001 s with pyspark imported from a directory.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module when
it is importable at daemon launch and ``unpacked_pyspark`` finds a directory
holding the JVM's pyspark version. Run as the daemon
(``python -m dq_worker_boot pyspark.worker``), it drops those archive entries
from ``sys.path``, puts that directory first, evicts the cached zipimporters
and starts ``pyspark.daemon.manager()``; ``sys.argv`` is kept, as
``pyspark.daemon`` reads the worker module from ``sys.argv[1]``. Where no such
directory exists it starts the stock daemon unchanged.

The module lives outside ``dataquality_cli_spark/`` and imports nothing from
it: ``python -m pkg.mod`` would import the package ``__init__``, and with it
pyspark from the zip, before this code ran.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
import zipimport

# the archives Spark puts on the daemon's PYTHONPATH (PythonUtils.sparkPythonPath)
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
VERSION_RE = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and any(fnmatch.fnmatch(name, p) for p in SPARK_ARCHIVES)


def _version(text: str) -> str | None:
    m = VERSION_RE.search(text)
    return m.group(1) if m else None


def _dir_version(root: str) -> str | None:
    try:
        with open(os.path.join(root, "pyspark", "version.py"), encoding="utf-8") as fh:
            return _version(fh.read())
    except OSError:
        return None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def unpacked_pyspark(version: str, path: list[str]) -> str | None:
    """The first directory that holds an unpacked pyspark of ``version``, with
    py4j importable from it or from a directory on ``path``, else None.

    Directories on ``path`` come first, in order: the interpreter's own
    site-packages copy ships compiled ``__pycache__``. ``$SPARK_HOME/python``
    comes last; it has no bytecode for ``pyspark/sql``, which a daemon started
    under ``PYTHONDONTWRITEBYTECODE`` would compile from source on every boot.
    """
    dirs = [os.path.abspath(p or os.curdir) for p in path]
    dirs = [d for d in dirs if os.path.isdir(d)]
    home = os.environ.get("SPARK_HOME")
    if home:
        dirs.append(os.path.join(home, "python"))
    for d in dirs:
        if _dir_version(d) == version and any(
                os.path.isdir(os.path.join(p, "py4j")) for p in (d, *dirs)):
            return d
    return None


def boot() -> None:
    """Swap the daemon's pyspark archives for an unpacked pyspark of the same
    version, if one exists, then run the daemon."""
    archives = [p for p in sys.path if _spark_archive(p)]
    zipped = next((p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    version = _zip_version(zipped) if zipped else None
    rest = [p for p in sys.path if p not in archives]
    root = unpacked_pyspark(version, rest) if version else None
    if root is not None:
        sys.path[:] = [root] + [p for p in rest if os.path.abspath(p or os.curdir) != root]
        for key, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    boot()
