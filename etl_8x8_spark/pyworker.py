"""Python-worker daemon entry point for engine sessions.

Spark starts each executor's Python daemon as ``python -m <module>``
with its own archives first on ``PYTHONPATH``: ``pyspark.zip``, the
``py4j-*-src.zip`` and the spark-core jar. pyspark calls
``importlib.invalidate_caches()`` once per task, and under Python 3.11
every ``zipimporter`` in ``sys.path_importer_cache`` then parses its
archive's whole directory again (LESSONS #65). When the same pyspark
is importable outside those archives, this module drops them from
``sys.path`` and drops their cached importers, then runs Spark's own
daemon, so the forked workers import the pyspark and py4j the driver
imports and a task re-reads no archive. Otherwise it leaves the path
as Spark set it. ``session.get_spark`` selects this module with
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from fnmatch import fnmatch
from importlib.machinery import PathFinder

#: basenames of the archives Spark puts first on every worker's path
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _is_spark_archive(entry: str) -> bool:
    return any(fnmatch(os.path.basename(entry), pat) for pat in SPARK_ARCHIVES)


def _version(text: str) -> str | None:
    found = _VERSION.search(text)
    return found and found[1]


def plain_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archive entries when ``pyspark`` and
    ``py4j`` are importable from plain files in what is left and that
    ``pyspark`` is the version in Spark's ``pyspark.zip``; otherwise
    ``path`` unchanged. Other entries, a user's zips among them, stay."""
    kept = [p for p in path if not _is_spark_archive(p)]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    specs = [PathFinder.find_spec(name, kept) for name in ("pyspark", "py4j")]
    if not zips or not all(s and s.origin and os.path.isfile(s.origin) for s in specs):
        return list(path)
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            spark_version = _version(zf.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(specs[0].origin), "version.py")) as fh:
            plain_version = _version(fh.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return kept if spark_version and spark_version == plain_version else list(path)


def main() -> None:
    kept = plain_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
