"""Python worker daemon: pyspark's own ``daemon.manager()``, started on
the installed pyspark instead of the copy inside Spark's zip archives.

``session.py:get_spark`` names this module in ``spark.python.daemon.module``,
so the JVM runs ``python -m monday_etl_automation_spark.pydaemon`` for
every executor's worker pool. The JVM puts ``$SPARK_HOME/python/lib``'s
``pyspark.zip`` and py4j source zip, then the spark-core jar, at the
head of the worker's ``PYTHONPATH``. pyspark's worker calls
``importlib.invalidate_caches()`` once per task, and on Python 3.11/3.12
that makes every cached ``zipimporter`` re-read its whole archive: on a
4-core host about 13 ms for each zip package a worker imported from and
57 ms for the jar, which holds no Python at all; 0.17-0.30 s before a
task's first Arrow batch, at any data size. The archives also ship no
``.pyc``, so a cold daemon compiled pyspark from source at every start.

When the interpreter has its own pyspark and py4j, and that pyspark is
the archives' version, the daemon drops from ``sys.path`` every archive
whose Python files all sit under ``pyspark/`` or ``py4j/`` (the jar holds
none), forgets their cached importers, and only then imports
``pyspark.daemon``. Those archives can serve no import the installed
packages do not serve first; left at the tail of ``sys.path`` they would
still get a ``zipimporter`` from the first import that misses every
directory (pyspark probes ``psutil``, pandas probes ``numexpr``), and
``pyspark.zip`` would cost 11 ms per task again. Otherwise (a cluster
node with only Spark's archives, or a mismatched install) ``sys.path``
stays as the JVM built it.

The package's ``__init__`` imports no pyspark, so nothing has been
loaded from the archives when the rewrite runs.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")
_ARCHIVES = (".zip", ".jar")
_SHADOWED = ("pyspark/", "py4j/")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _package_dir(dirs: list[str], name: str) -> str | None:
    """The directory a regular import of package ``name`` resolves to
    when only ``dirs`` are searched, in order."""
    for d in dirs:
        pkg = os.path.join(d, name)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without the archives that the installed pyspark and
    py4j shadow.

    When the directory entries hold both packages and every archive
    that holds ``pyspark/version.py`` carries the installed version,
    returns ``path`` minus each ``.zip`` / ``.jar`` entry whose Python
    files all sit under ``pyspark/`` or ``py4j/``; every other entry
    keeps its place. Otherwise returns ``path`` unchanged.
    """
    dirs = [p for p in path if not p.endswith(_ARCHIVES)]
    installed = _package_dir(dirs, "pyspark")
    if installed is None or _package_dir(dirs, "py4j") is None:
        return list(path)
    try:
        with open(os.path.join(installed, "version.py"), encoding="utf-8") as f:
            version = _version(f.read())
    except OSError:
        return list(path)
    shadowed, archived = set(), set()
    for p in path:
        if not p.endswith(_ARCHIVES):
            continue
        try:
            with zipfile.ZipFile(p) as z:
                names = [n for n in z.namelist() if n.endswith(".py")]
                if "pyspark/version.py" in names:
                    archived.add(_version(z.read("pyspark/version.py").decode("utf-8")))
        except (OSError, zipfile.BadZipFile):
            continue
        if all(n.startswith(_SHADOWED) for n in names):
            shadowed.add(p)
    if version is None or archived != {version}:
        return list(path)
    return [p for p in path if p not in shadowed]


def main() -> None:
    before = list(sys.path)
    sys.path[:] = worker_path(before)
    dropped = tuple(p for p in before if p not in sys.path)
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
