"""Local Python workers import the installed pyspark, not Spark's zip/jar.

``get_spark`` starts the worker daemon through
``collector_spark.python_daemon`` on local masters. It drops the
``$SPARK_HOME`` archives from the path before pyspark loads, so no
zipimporter is left for every task's ``invalidate_caches()`` to re-scan,
and pyspark loads from cached ``.pyc``."""

import glob
import os
import stat
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


UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
UDS_DIR = "spark.python.unix.domain.socket.dir"


def test_daemon_module_only_on_local_masters():
    for master in ("local", "local[2]", "local[*]"):
        conf = session.spark_conf(master)
        assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE
        assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
        assert conf[UDS_ENABLED] == "true"
        # Spark binds <dir>/.<uuid4>.sock; sun_path holds 107 bytes
        assert len(os.fsencode(conf[UDS_DIR])) + 43 <= 107, conf[UDS_DIR]
        assert os.path.isdir(conf[UDS_DIR])
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = session.spark_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf
        assert UDS_ENABLED not in conf and UDS_DIR not in conf


def test_socket_dir_falls_back_to_tmp_then_tcp(monkeypatch, tmp_path):
    long_dir = tmp_path / ("d" * 80)
    long_dir.mkdir()
    monkeypatch.setattr(session.tempfile, "tempdir", str(long_dir))
    assert session.socket_dir() == "/tmp"
    monkeypatch.setattr(session, "socket_dir", lambda: None)
    conf = session.spark_conf("local[2]")
    assert UDS_ENABLED not in conf and UDS_DIR not in conf


def test_local_session_talks_over_unix_sockets(spark):
    """The shared session's workers and its accumulator server use the
    Unix sockets the conf asks for."""
    sock_dir = spark.conf.get(UDS_DIR)

    @F.pandas_udf(T.StringType())
    def channel(s: pd.Series) -> pd.Series:
        import os

        # pyspark's daemon reads the flag case-insensitively
        enabled = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()
        env = f"{enabled}|{os.environ.get('PYTHON_WORKER_FACTORY_SOCK_DIR')}"
        return s.map(lambda _: env)

    got = {r.c for r in spark.range(0, 4, numPartitions=2).select(channel("id").alias("c")).collect()}
    assert got == {f"true|{sock_dir}"}
    address = spark.sparkContext._accumulatorServer.server_address
    assert isinstance(address, str) and os.path.dirname(address) == sock_dir, address
    assert stat.S_ISSOCK(os.stat(address).st_mode)


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


def test_long_tmpdir_keeps_sockets_short_and_leaves_none(tmp_path):
    """With ``TMPDIR`` and the JVM's ``java.io.tmpdir`` too long for a
    socket path, the sockets go to ``/tmp``: a pandas UDF, ``toArrow()``
    and ``collect()`` run, ``spark.stop()`` leaves no socket behind, and
    neither does a driver that exits with a session it never stopped."""
    long_dir = tmp_path / ("t" * 90)
    long_dir.mkdir()
    assert len(str(long_dir)) >= 80
    code = textwrap.dedent(
        f"""
        import glob, os, sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F, types as T
        from collector_spark import get_spark

        @F.pandas_udf(T.StringType())
        def sock_dir(s: pd.Series) -> pd.Series:
            import os
            return s.map(lambda _: os.environ["PYTHON_WORKER_FACTORY_SOCK_DIR"])

        before = set(glob.glob("/tmp/.*.sock"))
        spark = get_spark(
            app_name="long_tmpdir", master="local[1]",
            extra_conf={{"spark.driver.extraJavaOptions": "-Djava.io.tmpdir={long_dir}"}},
        )
        print("jvm_tmpdir", spark._jvm.java.lang.System.getProperty("java.io.tmpdir"))
        print("conf_dir", spark.conf.get("spark.python.unix.domain.socket.dir"))
        print("accumulator", spark.sparkContext._accumulatorServer.server_address)
        print("udf", sorted({{r[0] for r in spark.range(3).select(sock_dir("id")).collect()}}))
        print("arrow", spark.range(5).toArrow().num_rows)
        print("collect", len(spark.range(7).collect()))
        spark.stop()
        print("left", sorted(set(glob.glob("/tmp/.*.sock")) - before))
        get_spark(app_name="never_stopped", master="local[1]").range(1).collect()
        """
    )
    before = set(glob.glob("/tmp/.*.sock"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
        env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g", "TMPDIR": str(long_dir)},
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in res.stdout.strip().splitlines()[-7:])
    assert out["jvm_tmpdir"] == str(long_dir)
    assert out["conf_dir"] == "/tmp"
    assert out["accumulator"].startswith("/tmp/.") and out["accumulator"].endswith(".sock")
    assert out["udf"] == "['/tmp']"
    assert out["arrow"] == "5" and out["collect"] == "7"
    assert out["left"] == "[]"
    assert set(glob.glob("/tmp/.*.sock")) - before == set()
