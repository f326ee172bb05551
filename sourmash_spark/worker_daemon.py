"""The Python worker daemon of local sessions: `session.get_spark` names
this module in ``spark.python.daemon.module``, and Spark starts it as
``python -m sourmash_spark.worker_daemon pyspark.worker``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` (and py4j's zip) first
on the daemon's path.  Imported from there, pyspark is compiled from
source in the daemon and again in each forked worker for every module it
imports later, and each task's ``importlib.invalidate_caches()`` makes
every zipimporter re-read its zip.  So the daemon, before it forks any
worker:

1. drops each Spark zip from ``sys.path`` whose package the interpreter
   also has installed, at the same version, and Spark's core jar when it
   holds no Python file (`worker_path`), together with their cached
   zipimporters; otherwise the path stays as Spark set it;
2. imports the modules every Arrow-batched worker imports;
3. freezes the garbage collector's view of them, so that forked workers
   neither scan nor copy those pages;
4. runs pyspark's own daemon loop.

The package's ``__init__`` runs before this module and must not import
pyspark.
"""

from __future__ import annotations

import gc
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\b[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _installed_version(pkg: str, path: list[str]) -> str | None:
    """The ``version.py`` version of `pkg` as `path` would import it."""
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin),
                               "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def _needless(archive: str, rest: list[str]) -> bool:
    """Whether `archive` can only cost imports: a zip whose top-level
    package `rest` also holds at the same version, or a jar with no
    Python file (Spark adds its core jar for builds that bundle pyspark
    there)."""
    try:
        with zipfile.ZipFile(archive) as z:
            names = z.namelist()
            if archive.endswith(".jar"):
                return not any(n.endswith((".py", ".pyc")) for n in names)
            for name in names:
                pkg, _, tail = name.partition("/")
                if tail == "version.py":
                    held = _version(z.read(name).decode())
                    return held is not None and (
                        held == _installed_version(pkg, rest))
    except (OSError, zipfile.BadZipFile):
        pass
    return False


def worker_path(path: list[str], spark_home: str) -> list[str]:
    """`path` without the archives Spark put there that `_needless`
    finds can only cost imports: the ``{spark_home}/python/lib/*.zip``
    and jars."""
    if not spark_home:
        return list(path)
    lib = os.path.normpath(os.path.join(spark_home, "python", "lib"))
    spark = [p for p in path if p.endswith(".jar") or (
        p.endswith(".zip") and os.path.dirname(os.path.normpath(p)) == lib)]
    rest = [p for p in path if p not in spark]
    drop = {p for p in spark if _needless(p, rest)}
    return [p for p in path if p not in drop]


if __name__ == "__main__":
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME", ""))
    gone = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    # importing this module already made a zipimporter for each, which
    # every task's invalidate_caches() would make re-read its archive
    for key in [k for k in sys.path_importer_cache if k.startswith(gone)]:
        del sys.path_importer_cache[key]

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark.daemon import manager

    gc.freeze()
    manager()
