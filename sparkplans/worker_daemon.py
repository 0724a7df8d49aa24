"""Spark's Python worker daemon, started on the installed pyspark.

Spark launches each executor's Python workers with ``pyspark.zip``,
the ``py4j-*.zip`` source archive and the ``spark-core`` jar ahead of
site-packages on ``PYTHONPATH``.  Every task then calls
``importlib.invalidate_caches()``, which makes each cached
``zipimporter`` re-read its whole archive directory (about 0.65 s of a
0.76 s warm task), and a zip holds no bytecode cache, so every daemon
compiles pyspark from source again.  When the installed pyspark and
py4j are the same release as those archives, this module drops the
archives from ``sys.path`` and purges the cached zip importers before
it imports ``pyspark.daemon``; otherwise it changes nothing.

Run as ``spark.python.daemon.module`` (see ``sparkplans.session``).
It imports only the standard library before it acts, so the package
``__init__`` must not import pyspark either.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
import zlib

# Spark's own entries on a worker's sys.path.
_SPARK_ENTRY = re.compile(r"^(pyspark\.zip|py4j-.*\.zip|spark-core.*\.jar)$")
# Source-archive packages that the pip release does not ship.
_UNSHIPPED = ("/tests/", "/benchmark/")


def _same_release(archive: str, package: str, root: str) -> bool:
    """True when every shipped ``.py`` entry of *archive* has a
    byte-identical file under *root*, by the archive's CRC32.
    ``<package>/version.py`` must be among them, so a different
    release never passes."""
    try:
        with zipfile.ZipFile(archive) as zf:
            infos = [
                i for i in zf.infolist()
                if i.filename.endswith(".py") and not any(s in i.filename for s in _UNSHIPPED)
            ]
        if f"{package}/version.py" not in {i.filename for i in infos}:
            return False
        for info in infos:
            with open(os.path.join(root, info.filename), "rb") as f:
                if zlib.crc32(f.read()) != info.CRC:
                    return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def use_installed_pyspark(path: list[str] | None = None, cache: dict | None = None) -> bool:
    """Drop Spark's archives from *path* (``sys.path``) and every
    ``zipimporter`` from *cache* (``sys.path_importer_cache``) when the
    first pyspark and py4j found on the remaining entries are the same
    release as the archives.  Returns whether it did; on any mismatch,
    or with no installed copy, both are left untouched."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    spark = [p for p in path if _SPARK_ENTRY.match(os.path.basename(p))]
    rest = [p for p in path if p not in spark]
    for package in ("pyspark", "py4j"):
        archive = next((p for p in spark if os.path.basename(p).startswith(package)), None)
        root = next(
            (e for e in rest if os.path.isfile(os.path.join(e, package, "__init__.py"))), None
        )
        if archive is None or root is None or not _same_release(archive, package, root):
            return False
    path[:] = rest
    for key in [k for k, v in cache.items() if isinstance(v, zipimport.zipimporter)]:
        del cache[key]
    return True


if __name__ == "__main__":
    use_installed_pyspark()
    from pyspark.daemon import manager

    manager()
