"""Python worker daemon for local sessions: ``pyspark.daemon`` minus
the zip importers.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, py4j's zip and the
spark-core jar on every Python worker's ``sys.path``. ``pyspark.worker``
calls ``importlib.invalidate_caches()`` at the start of EVERY task, and
on CPython 3.11 that makes each cached ``zipimporter`` re-read its
archive's whole central directory: a reused worker holds a dozen over
the 3.5 MB pyspark.zip (one per imported subpackage) and two over the
spark-core jar, which costs ~0.2 s per task however small the task is.

This module runs once in the daemon, before anything imports pyspark:
it drops the ``.jar`` entries (they hold no ``.py``), drops
pyspark.zip when an installed ``pyspark`` of the SAME version is
importable without it, and purges the dropped entries'
``sys.path_importer_cache`` importers. Forked workers inherit that
path, so pyspark comes from the installed package and the only zip
importer left is py4j's 43 KB one. A version mismatch, or no installed
pyspark, keeps the stock zip path.

``session.local_worker_conf`` sets it as ``spark.python.daemon.module``
for local masters only; Spark runs it as ``python -m
pisa_spark.worker_daemon [worker module]``.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

# pyspark/version.py: ``__version__: str = '4.1.2'`` (either quote).
_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_version(zip_path: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    spec = importlib.machinery.PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(
            spec.submodule_search_locations[0], "version.py"
        )) as f:
            return _version(f.read())
    except OSError:
        return None


def unzipped_path(path: list[str]) -> list[str]:
    """``path`` without its ``.jar`` entries, and without its
    pyspark.zip entries when the rest of ``path`` imports a pyspark of
    every such zip's version."""
    kept = [p for p in path if not p.endswith(".jar")]
    zips = [p for p in kept if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return kept
    rest = [p for p in kept if p not in zips]
    installed = _installed_version(rest)
    if installed is None or any(_zip_version(z) != installed for z in zips):
        return kept
    return rest


def _main() -> None:
    kept = unzipped_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    _main()
