"""PySpark's worker daemon, started without Spark's archives on `sys.path`.

Spark starts every Python worker with `pyspark.zip`, the py4j source zip and
the spark-core jar at the head of `PYTHONPATH`. Before each task the worker
calls `importlib.invalidate_caches()` (`pyspark.worker_util.setup_spark_files`),
and on Python 3.11 that makes every `zipimporter` on the path re-read its
whole archive: the 15 MB spark-core jar (5,359 entries, no `.py` file) and
`pyspark.zip` plus one importer per imported subpackage. Measured on a
4-core box, that is 124-357 ms of every Python task, on every task of a
reused worker.

Run as `spark.python.daemon.module` (`session.get_spark` sets it where Spark
can import this module), it drops those archives from `sys.path` and
`sys.path_importer_cache` and then runs `pyspark.daemon.manager()`, so the
forked workers import pyspark from the installed package the driver uses.
It drops them only when `pyspark` and `py4j` resolve without them and the
installed pyspark is the version inside `pyspark.zip`; otherwise `sys.path`
stays as Spark built it. The package `__init__` imports no pyspark, so
nothing has been imported from the archives before the pruning.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def prune_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove Spark's archive entries from `path` (in place) and their
    importers from `importer_cache`, if pyspark and py4j still resolve
    without them to the pyspark version the archives hold. Returns whether
    anything was removed."""
    archives = {p for p in path if _is_spark_archive(p)}
    kept = [p for p in path if p not in archives]
    if not archives or PathFinder.find_spec("py4j", kept) is None:
        return False
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            installed = _version(f.read())
        for zp in (p for p in archives if os.path.basename(p) == "pyspark.zip"):
            with zipfile.ZipFile(zp) as z:
                if _version(z.read("pyspark/version.py").decode()) != installed:
                    return False
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return False
    if installed is None:
        return False
    path[:] = kept
    # subpackage importers are keyed `<archive>/<pkg>`
    prefixes = tuple(a + os.sep for a in archives)
    for key in [k for k in importer_cache if k in archives or k.startswith(prefixes)]:
        del importer_cache[key]
    return True


if __name__ == "__main__":
    prune_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
