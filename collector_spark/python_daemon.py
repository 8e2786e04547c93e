"""Entry module of the local-mode Python worker daemon.

``get_spark`` sets ``spark.python.daemon.module`` to this module on local
masters. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip
and the spark-core jar ahead of site-packages on every worker's
``PYTHONPATH``. Each of them leaves zipimporters in
``sys.path_importer_cache`` (pyspark.zip one per subpackage), and every
task calls ``importlib.invalidate_caches()``, which makes each of those
re-read its whole central directory: 0.15-0.6 s per task on a 4-vCPU
host. The zip also holds no ``.pyc``, so every daemon start compiles
pyspark from source.

Run as ``python -m``, this module drops those archives from the path when
the installed pyspark package, the one the driver imports, is importable
from what remains and has the same ``version.py``; then it runs pyspark's
own daemon unchanged. Forked workers inherit the cleaned path.

Nothing may import pyspark before the cleanup: this module imports only
the standard library, and ``collector_spark/__init__`` exports lazily.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _package_dir(entry: str, name: str) -> str | None:
    path = os.path.join(entry or os.curdir, name)
    return path if os.path.isfile(os.path.join(path, "__init__.py")) else None


def _archive_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def worker_path(path: list[str], spark_home: str) -> list[str]:
    """``path`` without the ``.zip``/``.jar`` entries under ``spark_home``,
    or ``path`` unchanged unless the first pyspark package directory on
    the remaining path (plus a py4j one) exists and its
    ``pyspark/version.py`` is byte-equal to the one in those archives."""
    home = os.path.realpath(spark_home) + os.sep
    bundled = [
        p for p in path if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)
    ]
    kept = [p for p in path if p not in bundled]
    installed = next(filter(None, (_package_dir(p, "pyspark") for p in kept)), None)
    if not bundled or installed is None or not any(_package_dir(p, "py4j") for p in kept):
        return list(path)
    version = next(filter(None, map(_archive_version, bundled)), None)
    try:
        with open(os.path.join(installed, "version.py"), "rb") as f:
            same = f.read() == version
    except OSError:
        same = False
    return kept if same else list(path)


def clean_sys_path() -> None:
    """Apply ``worker_path`` to ``sys.path`` and forget the importers of
    the dropped archives (and of their subdirectories)."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        return
    kept = worker_path(sys.path, spark_home)
    dropped = tuple(p for p in sys.path if p not in kept)
    if not dropped:
        return
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(tuple(d + os.sep for d in dropped)):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    clean_sys_path()
    from pyspark import daemon

    daemon.manager()
