"""Local Python workers import the installed pyspark, not Spark's zip/jar.

``get_spark`` starts the worker daemon through
``collector_spark.python_daemon`` on local masters. It drops the
``$SPARK_HOME`` archives from the path before pyspark loads, so no
zipimporter is left for every task's ``invalidate_caches()`` to re-scan,
and pyspark loads from cached ``.pyc``."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark import session
from collector_spark.python_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '4.1.2'\n"


def test_workers_import_installed_pyspark(spark):
    @F.pandas_udf(T.StringType())
    def worker_state(s: pd.Series) -> pd.Series:
        import sys

        import pyspark

        types = sorted({type(v).__name__ for v in sys.path_importer_cache.values()})
        return s.map(lambda _: f"{pyspark.__file__}|{','.join(types)}")

    got = {
        r.state
        for r in spark.range(0, 8, numPartitions=4).select(worker_state("id").alias("state")).collect()
    }
    for state in got:
        pyspark_file, types = state.split("|")
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, state
        assert "zipimporter" not in types.split(","), state


def _layout(tmp_path, installed_version=VERSION, installed=True):
    """A fake SPARK_HOME with its three archives plus a site directory."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    (home / "jars").mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(home / "jars" / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j") if installed else ():
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    if installed:
        (site / "pyspark" / "version.py").write_bytes(installed_version)
    other = tmp_path / "deps.zip"
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("dep.py", "")
    path = [
        str(tmp_path / "cwd"),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(home / "jars" / "spark-core_2.13-4.1.2.jar"),
        str(other),
        str(site),
    ]
    return str(home), path


def test_worker_path_drops_only_spark_home_archives(tmp_path):
    home, path = _layout(tmp_path)
    assert worker_path(path, home) == [path[0], path[4], path[5]]


def test_worker_path_unchanged_without_installed_pyspark(tmp_path):
    home, path = _layout(tmp_path, installed=False)
    assert worker_path(path, home) == path


def test_worker_path_unchanged_on_version_mismatch(tmp_path):
    home, path = _layout(tmp_path, installed_version=b"__version__: str = '4.0.0'\n")
    assert worker_path(path, home) == path


def test_daemon_module_only_on_local_masters():
    for master in ("local", "local[2]", "local[*]"):
        conf = session.spark_conf(master)
        assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE
        assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = session.spark_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf


def test_package_import_leaves_pyspark_unloaded():
    code = (
        "import sys, collector_spark, collector_spark.python_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip() == "[]"


def test_session_from_another_cwd_runs_a_udf(tmp_path):
    """The driver finds the package through its own ``sys.path`` only, so
    the workers can find it only through the session's settings."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F, types as T
        from collector_spark import get_spark

        @F.pandas_udf(T.LongType())
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        spark = get_spark(app_name="other_cwd", master="local[1]")
        print(spark.range(3).select(plus_one("id")).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
        env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().endswith("[Row(plus_one(id)=1), Row(plus_one(id)=2), Row(plus_one(id)=3)]")
