"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Every task then runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each cached
``zipimporter`` (one per imported pyspark sub-package) re-reads its
archive's central directory there, whatever the task's row count: a
10-row pandas UDF collect took 245 ms with those archives on the path and
134 ms without (``local[1]`` on a 4-core host).

When the pyspark left on the path without those archives has the same
version as the one in the zip, and a py4j is there too, this module drops
the archive entries from ``sys.path`` and their importers from
``sys.path_importer_cache`` before anything imports pyspark, so
``invalidate_caches()`` costs nothing. Otherwise (a cluster whose
installed pyspark differs from the JVM's, or none installed) the path
stays as Spark built it. User ``--py-files`` archives are never touched.
Then it runs the stock daemon, ``pyspark.daemon.manager()``.

The package ``__init__`` imports nothing from pyspark, so ``python -m``
of this module loads pyspark only after the scrub.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str) -> str | None:
    """``pyspark.__version__`` inside Spark's pyspark.zip."""
    try:
        with zipfile.ZipFile(archive) as z:
            text = z.read("pyspark/version.py").decode()
    except (KeyError, OSError, zipfile.BadZipFile):
        return None
    return _version(text)


def _path_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` of the pyspark ``path`` would import,
    read without importing it; None unless it is a plain directory."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


_PYSPARK_ZIP = os.path.join(os.sep, "python", "lib", "pyspark.zip")


def _is_spark_archive(real: str, lib: str, jars: str) -> bool:
    where, name = os.path.split(real)
    if where == lib:
        return name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip")
    return where == jars and name.endswith(".jar")


def scrub_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Drop a Spark installation's archives (``<home>/python/lib/pyspark.zip``,
    the py4j source zip beside it, the jars in ``<home>/jars``) from
    ``path`` and their importers from ``importer_cache``, both in place,
    when the pyspark (same version as the zip's) and py4j left on the
    path can stand in for them. Returns whether it did; on False nothing
    changed."""
    real = {e: os.path.realpath(e) for e in path}
    zips = [e for e in path if real[e].endswith(_PYSPARK_ZIP)]
    if not zips:
        return False
    home = real[zips[0]][: -len(_PYSPARK_ZIP)]
    lib, jars = os.path.join(home, "python", "lib"), os.path.join(home, "jars")
    archives = [e for e in path if _is_spark_archive(real[e], lib, jars)]
    kept = [e for e in path if e not in archives]
    version = _zip_version(zips[0])
    if (version is None or version != _path_version(kept)
            or PathFinder.find_spec("py4j", kept) is None):
        return False
    path[:] = kept
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return True


def main() -> None:
    scrub_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
