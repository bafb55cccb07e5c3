"""Python worker daemon that keeps Spark's own archives out of the import
machinery.

Spark starts its Python workers with ``pyspark.zip``, the py4j zip and the
Spark core jar on ``sys.path``, and pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
once per task.  Under CPython 3.11 that re-reads the central directory of
every zipimporter in ``sys.path_importer_cache``: four reads over 12,055
entries, 0.12–0.24 s before each task's first row on a 4-core box.  The
driver imports the same pyspark and py4j from site-packages.

``session.get_spark`` selects this module with the stock conf
``spark.python.daemon.module``.  Once, at daemon start and before anything
imports pyspark, it reads the versions of the pyspark and py4j that Spark
ships and of the ones found without its archives.  Only when both pairs are
equal does it remove, for Spark's archives:

- their ``sys.path`` entries;
- the zipimporters ``runpy`` cached for them while it located this module
  (keys may be sub-paths such as ``<jar>/org``);
- the modules whose ``__path__`` lies in them: the stdlib's Jython probe
  (``from org.python.core import PyStringMap`` in ``copy``/``pickle``)
  leaves a namespace package ``org`` over the jar, whose path every
  invalidate recomputes with a fresh zipimporter.

Otherwise it changes nothing.  Either way it then runs
``pyspark.daemon.manager()``, so every forked worker inherits the state.

``-m`` imports ``extractor_spark`` and ``extractor_spark.spark`` before this
module runs, so neither package's ``__init__`` may import pyspark.
"""

from __future__ import annotations

import glob
import os
import re
import sys
import zipfile

_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _spark_archives(spark_home: str) -> list[str]:
    """Real paths of the archives Spark ships: the zips under ``python/lib``
    and the jars under ``jars`` (``SPARK_HOME`` may be a symlink)."""
    if not spark_home:
        return []
    found = glob.glob(os.path.join(spark_home, "python", "lib", "*.zip"))
    found += glob.glob(os.path.join(spark_home, "jars", "*.jar"))
    return [os.path.realpath(p) for p in found]


def _in_archive(entry: str, archives: list[str]) -> bool:
    real = os.path.realpath(entry)
    return any(real == a or real.startswith(a + os.sep) for a in archives)


def _package_version(entry: str, package: str) -> str | None:
    """Version in ``<package>/version.py`` when the directory or zip
    ``entry`` holds the package ("" when that file is unreadable), None when
    it does not hold it.  Reads the file; imports nothing."""
    try:
        if os.path.isdir(entry or "."):
            if not os.path.isfile(os.path.join(entry, package, "__init__.py")):
                return None
            with open(os.path.join(entry, package, "version.py")) as f:
                text = f.read()
        elif zipfile.is_zipfile(entry):
            with zipfile.ZipFile(entry) as z:
                if f"{package}/__init__.py" not in z.namelist():
                    return None
                text = z.read(f"{package}/version.py").decode()
        else:
            return None
    except (OSError, KeyError, UnicodeDecodeError):
        return ""
    match = _VERSION.search(text)
    return match.group(1) if match else ""


def lean_import_state(spark_home: str, path: list, importer_cache: dict, modules: dict) -> bool:
    """Remove Spark's archives from ``path``, ``importer_cache`` and
    ``modules`` (in place) when the pyspark and py4j found on the rest of
    ``path`` have the versions Spark ships; return whether it did."""
    archives = _spark_archives(spark_home)
    if not archives or any(p in modules for p in _PACKAGES):
        return False
    clean = [p for p in path if not _in_archive(p, archives)]
    zips = [a for a in archives if a.endswith(".zip")]
    for package in _PACKAGES:
        shipped = {_package_version(z, package) for z in zips} - {None}
        on_path = (_package_version(p, package) for p in clean)
        found = next((v for v in on_path if v is not None), None)
        if len(shipped) != 1 or found not in shipped:
            return False
    # before the path changes: a namespace package recomputes its __path__
    # from sys.path when iterated
    doomed = [
        name
        for name, module in modules.items()
        if any(_in_archive(p, archives) for p in getattr(module, "__path__", None) or ())
    ]
    path[:] = clean
    for key in [k for k in importer_cache if _in_archive(k, archives)]:
        del importer_cache[key]
    for name in doomed:
        del modules[name]
    return True


if __name__ == "__main__":
    lean_import_state(os.environ.get("SPARK_HOME", ""), sys.path, sys.path_importer_cache, sys.modules)
    from pyspark import daemon

    daemon.manager()
