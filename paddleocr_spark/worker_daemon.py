"""The Python worker daemon of every session ``get_spark`` builds.

Spark starts one daemon per executor (``python -m <module>``) and the
daemon forks one worker per Python task. The stock ``pyspark.daemon``
runs under the ``PYTHONPATH`` the JVM hands it: ``pyspark.zip``, the
py4j source zip and the spark-core jar. Each task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), which re-reads the directory of every archive on
``sys.path`` (1,328 entries for ``pyspark.zip``, 5,359 for the jar,
none of them ``.py``): about 0.25 CPU-s per task before it reads a row.
And since the zip holds no ``.pyc``, every daemon compiles pyspark
from source.

This module removes every file entry (an archive, zip or jar) from
``sys.path`` and from ``sys.path_importer_cache``, then runs
``pyspark.daemon`` as ``__main__``. The forked workers import the
installed pyspark from its ``.pyc``, and a task's cache invalidation
reads no archive. It strips only when ``pyspark`` and ``py4j`` both
resolve outside the archives and the installed ``pyspark/version.py``
is byte-equal to every archive's copy: a pyspark that differs from the
JVM's would break the worker protocol. Otherwise ``sys.path`` stays as
the JVM set it.

Only the stdlib is imported before the hand-off: any pyspark import
here would load it from the archive.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

__all__ = ["archives_to_strip"]


def _packed_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read("pyspark/version.py")
    except (zipfile.BadZipFile, KeyError, OSError):
        return None  # not a zip, or no pyspark in it


def archives_to_strip(path: list[str]) -> list[str]:
    """The file entries of ``path`` to remove: all of them when the
    rule above holds, none otherwise."""
    files = [p for p in path if os.path.isfile(p)]
    if not files:
        return []
    rest = [p for p in path if p not in files]
    specs = [PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j")]
    if any(s is None or s.origin is None for s in specs):
        return []
    try:
        with open(os.path.join(os.path.dirname(specs[0].origin),
                               "version.py"), "rb") as fh:
            installed = fh.read()
    except OSError:
        return []
    for archive in files:
        packed = _packed_version(archive)
        if packed is not None and packed != installed:
            return []
    return files


def main() -> None:
    drop = archives_to_strip(sys.path)
    if drop:
        sys.path[:] = [p for p in sys.path if p not in drop]
        prefixes = tuple(a + os.sep for a in drop)
        for key in list(sys.path_importer_cache):
            if key in drop or key.startswith(prefixes):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
