"""Python-worker daemon entry point (``spark.python.daemon.module``).

Every Python task starts with ``pyspark.worker.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  That makes each ``zipimporter``
on the worker's path re-read its archive's directory, once per cached
sub-path.  Spark's worker path holds two archives a worker need not
import from:

* the spark-core jar: thousands of entries, no Python module;
* ``pyspark.zip``, when this interpreter has the same pyspark installed
  unpacked (its ``pyspark/version.py`` is byte-identical to the zip's).

This module drops both from ``sys.path`` and ``sys.path_importer_cache``
before anything imports pyspark, then runs Spark's own daemon; the
workers it forks inherit the cleaned path.  A missing or different
unpacked pyspark keeps the zip, and workers import it as Spark ships it.
It must stay free of pyspark imports, and the package ``__init__`` lazy.
"""

from __future__ import annotations

import importlib.machinery
import os
import runpy
import sys
import zipfile


def _names(archive: str) -> list[str] | None:
    """The archive's member names, or None if ``archive`` is not a zip."""
    try:
        with zipfile.ZipFile(archive) as z:
            return z.namelist()
    except (OSError, zipfile.BadZipFile):
        return None


def _same_as_unpacked(archive: str, path: list[str]) -> bool:
    """Does ``path`` without ``archive`` import a pyspark identical to
    the one inside it?"""
    spec = importlib.machinery.PathFinder.find_spec(
        "pyspark", [p for p in path if p != archive]
    )
    if spec is None or not spec.has_location:
        return False
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without the archives a worker need not import from."""
    kept = []
    for entry in path:
        names = _names(entry)
        if names is not None and (
            not any(n.endswith((".py", ".pyc")) for n in names)
            or ("pyspark/version.py" in names and _same_as_unpacked(entry, path))
        ):
            continue
        kept.append(entry)
    return kept


def clean_sys_path() -> None:
    """Apply :func:`worker_path` to this interpreter, importer cache included."""
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    clean_sys_path()
    runpy.run_module("pyspark.daemon", run_name="__main__")
