"""PySpark daemon entry point that keeps Python workers off zip imports.

Spark starts its Python daemon with ``pyspark.zip``, the py4j source
zip and the spark-core jar at the head of ``sys.path``, and every task
calls ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
On Python 3.11 that makes every zipimporter re-read its archive's whole
directory: a dozen importers over pyspark.zip (~1.3k entries each) and
two over the jar (~5.4k each) cost ~0.25 CPU.s per task.  When the
unzipped pyspark on the path is the zip's own version (and py4j is
importable unzipped too), this drops those archives from ``sys.path``
and the importer cache before pyspark loads, then runs the stock
``pyspark.daemon``; otherwise it changes nothing.

Spark runs it as ``python -m sjcs_worker_daemon`` (``get_spark`` sets
``spark.python.daemon.module``).  It must stay a top-level module:
``python -m pkg.mod`` would import the package, and with it pyspark
from the zip, before this code ran.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archives(path: list[str]) -> list[str]:
    """The jar and zip entries of `path` that carry pyspark or py4j."""
    out = []
    for p in path:
        if not os.path.isfile(p):
            continue
        if p.endswith(".jar"):
            out.append(p)
        elif p.endswith(".zip"):
            if {n.split("/", 1)[0] for n in _names(p)} & {"pyspark", "py4j"}:
                out.append(p)
    return out


def _names(zip_path: str) -> list[str]:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return z.namelist()
    except (OSError, zipfile.BadZipFile):
        return []


def _version_file(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    f = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
    if not os.path.isfile(f):
        return None
    with open(f, "rb") as fh:
        return fh.read()


def drop_spark_archives() -> list[str]:
    """Take Spark's archives off sys.path when the unzipped pyspark
    behind them is the same version.  -> the dropped entries."""
    arch = _spark_archives(sys.path)
    zipped = [p for p in arch if p.endswith(".zip")]
    rest = [p for p in sys.path if p not in arch]
    unzipped = _version_file(rest)
    if not zipped or unzipped is None or PathFinder.find_spec("py4j", rest) is None:
        return []
    for p in zipped:
        if "pyspark/version.py" in _names(p):
            with zipfile.ZipFile(p) as z:
                if z.read("pyspark/version.py") != unzipped:
                    return []
    sys.path[:] = rest
    for k in list(sys.path_importer_cache):
        if any(k == p or k.startswith(p + os.sep) for p in arch):
            del sys.path_importer_cache[k]
    return arch


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
