"""Python worker daemon that imports pyspark from outside Spark's archives.

Spark starts its Python worker daemon with ``pyspark.zip``, the py4j
source zip and the spark-core jar at the head of ``PYTHONPATH``. Every
task then runs ``importlib.invalidate_caches()`` (in
``worker_util.setup_spark_files``), and on Python 3.11 that makes each
cached ``zipimporter`` -- one per imported package directory inside the
zips, 16 in a UDF worker -- re-read its archive's directory. That is a
fixed cost per Python task that no UDF needs.

``session.build_session`` sets this module as
``spark.python.daemon.module``. It drops Spark's archive entries from
``sys.path`` and ``sys.path_importer_cache``, then runs the stock
``pyspark.daemon.manager()``, so workers import the same pyspark from a
plain directory (site-packages) and hold no zipimporter. The jar holds
no ``.py`` file, so dropping it loses nothing. When no archive-free
pyspark of the archive's version (with a py4j beside it) is importable,
``sys.path`` is left as it was and the daemon runs on the stock path.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def _pyspark_version(path: list[str]) -> str | None:
    """Version of the first pyspark on ``path``, read from its
    ``version.py`` without importing it (None when there is none)."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    try:
        src = spec.loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None
    m = _VERSION.search(src.decode("utf-8", "replace"))
    return m.group(1) if m else None


def _spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` that are jars, or zips holding pyspark or py4j."""
    return [
        p
        for p in path
        if p.endswith(".jar")
        or (p.endswith(".zip") and any(PathFinder.find_spec(m, [p]) for m in ("pyspark", "py4j")))
    ]


def strip_spark_archives() -> bool:
    """Drop Spark's archives from ``sys.path`` and the importer cache
    when the remaining path imports a pyspark of the same version and a
    py4j; return whether it did. Must run before pyspark is imported."""
    archives = _spark_archives(sys.path)
    if not archives:
        return False
    rest = [p for p in sys.path if p not in archives]
    want = _pyspark_version(sys.path)
    if want is None or _pyspark_version(rest) != want or PathFinder.find_spec("py4j", rest) is None:
        return False
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]
    return True


if __name__ == "__main__":
    strip_spark_archives()
    from pyspark.daemon import manager

    manager()
