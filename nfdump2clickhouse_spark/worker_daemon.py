"""Python-worker daemon: ``pyspark.daemon`` on a ``sys.path`` without the
archives that every task would otherwise re-read.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Each Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``); under CPython 3.11 that re-reads the
central directory of a zip archive once for every zipimporter cached for
it. Spark's worker path holds two archives the workers need not read:

- the spark-core jar, added by ``PythonUtils.sparkPythonPath``: 5,359
  entries, no Python, 29-40 ms per re-read;
- ``$SPARK_HOME/python/lib/pyspark.zip``: a copy of pyspark, 7-9 ms per
  re-read with 12-14 importers. It is dropped only when the pyspark
  found without it has a byte-identical ``pyspark/version.py``, so a
  mismatched install keeps Spark's copy.

The filter runs once per daemon; the workers it forks inherit the path.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = "pyspark/version.py"


def _installed_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark directory that ``path`` finds."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:  # no version.py, or pyspark itself sits in an archive
        return None


def _drops(entry: str, path: list[str]) -> bool:
    """Whether ``entry`` is an archive the workers need not import from."""
    if not (os.path.isfile(entry) and zipfile.is_zipfile(entry)):
        return False
    with zipfile.ZipFile(entry) as z:
        names = set(z.namelist())
        if _VERSION not in names:
            return not any(n.endswith((".py", ".pyc")) for n in names)
        ours = z.read(_VERSION)
    return ours == _installed_version([p for p in path if p != entry])


def filter_path(path: list[str], importer_cache: dict) -> list[str]:
    """The entries of ``path`` the workers keep; the ``importer_cache``
    entries of the dropped archives (and of their subdirectories) go."""
    dropped = {p for p in path if _drops(p, path)}
    for key in [k for k in importer_cache if any(k == p or k.startswith(p + os.sep) for p in dropped)]:
        del importer_cache[key]
    return [p for p in path if p not in dropped]


if __name__ == "__main__":
    sys.path[:] = filter_path(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
