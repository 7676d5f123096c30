"""Python worker daemon that imports pyspark from its installed package.

Spark starts the Python workers of a context's tasks (the CLI's RDD
job, pandas UDFs such as ``q_periodogram``, plain UDFs) by forking them
from a daemon process, ``pyspark.daemon`` by default. The daemon's
``sys.path`` starts with ``$SPARK_HOME/python/lib/pyspark.zip`` and the
``py4j-*-src.zip`` beside it. Those zips hold no bytecode, so each
daemon compiles pyspark from source before it forks its first worker:
about 1 s of CPU per daemon, while the driver imports the same pyspark
release from an installed package whose bytecode is cached.

The conf that ``session.get_spark`` and ``session.get_context`` both
start from sets ``spark.python.daemon.module`` to this module.
Before anything imports pyspark, it moves the Spark zips behind the rest
of ``sys.path``, but only when the pyspark and py4j that the rest of the
path would import are the same releases as the zips; otherwise the path
stays as Spark set it. Then it runs ``pyspark.daemon.manager()``, the
stock daemon loop. Nothing else differs: the same worker modules run the
same code, now loaded from bytecode.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# pyspark writes `__version__: str = "4.1.2"`, py4j `__version__ = '0.10.9.9'`
_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zipped_version(zip_path: str, package: str) -> str | None:
    """The release in ``<package>/version.py`` inside a zip, or None."""
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version(z.read(f"{package}/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """The release of the ``package`` an import over ``path`` finds, read
    without importing it; None when it is absent or not a plain
    directory (a zip, a namespace package)."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin or not spec.origin.endswith("__init__.py"):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"),
                  encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path: list[str], spark_lib: str) -> list[str]:
    """``path`` with the Spark zips in ``spark_lib`` moved behind every
    other entry, when each zip's package is importable from those other
    entries at the same release; else ``path`` unchanged.

    The Spark zips are ``pyspark.zip`` and ``py4j-*-src.zip`` directly in
    ``spark_lib`` (``$SPARK_HOME/python/lib``). Any other zip, such as one
    shipped with ``--py-files``, keeps its place.
    """
    lib = os.path.normpath(spark_lib)
    zips = {}
    for entry in path:
        if not entry or os.path.dirname(os.path.normpath(entry)) != lib:
            continue
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            zips[entry] = "pyspark"
        elif name.startswith("py4j-") and name.endswith("-src.zip"):
            zips[entry] = "py4j"
    rest = [entry for entry in path if entry not in zips]
    for entry, package in zips.items():
        zipped = _zipped_version(entry, package)
        if zipped is None or zipped != _installed_version(package, rest):
            return list(path)
    return rest + [entry for entry in path if entry in zips]


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        sys.path[:] = worker_path(sys.path, os.path.join(spark_home, "python", "lib"))
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
