"""Python worker daemon that imports PySpark from site-packages, not archives.

Spark starts its Python workers with ``pyspark.zip``, the py4j zip and the
spark-core jar at the head of ``PYTHONPATH``. Every task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, which makes
each cached zip importer re-read its archive's central directory: about
0.3 CPU-s per task on a 4-core host, against a few ms of work in a small
tile. ``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, which drops the archives from ``sys.path`` (and their importers
from ``sys.path_importer_cache``) before it runs ``pyspark.daemon``, so the
forked workers import the same PySpark from the installed package.

The archives stay when the installed package cannot stand in for them: a
different PySpark version, or no installed PySpark or py4j.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _is_archive(entry: str) -> bool:
    """Spark's own archives: pyspark.zip, the py4j zip and jars."""
    name = os.path.basename(entry)
    return name.endswith(".jar") or (
        name.endswith(".zip") and name.startswith(("pyspark", "py4j"))
    )


def _archive_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            m = _VERSION.search(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return m.group(1) if m else None


def _installed_version(path: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as fh:
            m = _VERSION.search(fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the PySpark found on the
    remaining entries has the version of the ``pyspark.zip`` among them
    and py4j is found there too; otherwise ``path`` unchanged."""
    kept = [p for p in path if not _is_archive(p)]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips or len(kept) == len(path):
        return list(path)
    version = _installed_version(kept)
    if version is None or version != _archive_version(zips[0]):
        return list(path)
    if PathFinder.find_spec("py4j", kept) is None:
        return list(path)
    return kept


if __name__ == "__main__":
    sys.path[:] = zip_free_path(sys.path)
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and entry not in sys.path:
            del sys.path_importer_cache[entry]
    from pyspark.daemon import manager

    manager()
