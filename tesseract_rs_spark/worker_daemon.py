"""Python worker daemon entry point that keeps Spark's archives off ``sys.path``.

Spark starts the Python worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar at the front of ``sys.path``, ahead
of every ``PYTHONPATH`` entry, so workers import pyspark from the zip.  PySpark
calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``), and on CPython 3.11 each cached ``zipimporter``
re-reads its archive's whole central directory on that call.  With pyspark.zip
(1,328 entries) and the jar (5,359) that measured 0.12-0.29 s per task on a
4-core VM, with one to four busy workers, paid before the task reads a row.

``session.get_spark`` names this module as ``spark.python.daemon.module``.  It
takes the archives out of ``sys.path`` (with their cached importers and any
namespace package that lives only inside them), then runs ``pyspark.daemon``;
the workers the daemon forks inherit the result.  It does so only when the
same pyspark and py4j versions are importable from a directory on the
remaining path; otherwise ``sys.path`` stays exactly as Spark built it,
because then the archives are the only pyspark there is.

Nothing here may import pyspark: it has to run before anything is imported
from the archives.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    """A zip or jar the JVM put on the worker's path (never the stdlib zip)."""
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _archived_version(archives: list, package: str) -> str | None:
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                text = zf.read(f"{package}/version.py").decode()
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
        m = _VERSION.search(text)
        return m.group(1) if m else None
    return None


def _directory_version(path: list, package: str) -> str | None:
    """Version of the ``package`` that ``path`` resolves to, if that is a
    regular package in a directory."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            m = _VERSION.search(f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def strip_spark_archives(path: list, importer_cache: dict, modules: dict) -> bool:
    """Drop Spark's archives from ``path`` (``sys.path``), their importers
    from ``importer_cache`` (``sys.path_importer_cache``) and archive-only
    namespace packages from ``modules`` (``sys.modules``), all in place.
    Returns whether anything was dropped; nothing is touched unless pyspark
    and py4j of the archives' versions are importable from a directory on
    the remaining path."""
    archives = [p for p in path if _is_spark_archive(p)]
    rest = [p for p in path if p not in archives]
    if not archives:
        return False
    for package in ("pyspark", "py4j"):
        want = _archived_version(archives, package)
        if want is None or _directory_version(rest, package) != want:
            return False
    inside = tuple(a + os.sep for a in archives)
    # read namespace paths before editing ``path``: a namespace package's
    # ``__path__`` recomputes itself from ``sys.path`` once that changes
    namespaces = [
        name
        for name, mod in modules.items()
        if getattr(mod, "__file__", None) is None
        and (locations := list(getattr(mod, "__path__", None) or ()))
        and all(loc.startswith(inside) for loc in locations)
    ]
    path[:] = rest
    for key in [k for k in importer_cache if k in archives or k.startswith(inside)]:
        del importer_cache[key]
    for name in namespaces:
        del modules[name]
    return True


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache, sys.modules)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
