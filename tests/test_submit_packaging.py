"""spark-submit packaging (SURVEY.md §7 M7): the --py-files zip must be
buildable and importable from a clean interpreter, exactly as an executor
would import it."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_zip_importable(tmp_path):
    sys.path.insert(0, REPO)
    import submit

    out = submit.build_zip(str(tmp_path / "dist" / "collector_spark.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "collector_spark/__init__.py" in names
    assert "collector_spark/operators/cel.py" in names
    assert not any("__pycache__" in n for n in names)

    # import the ORACLE (pure-Python module) from the zip in a clean
    # interpreter — proves executors can import the shipped package
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from collector_spark import oracle; "
        "print(oracle.shingle_hash('abc'))" % out
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().isdigit()


def test_submit_daemon_ticks(spark, tmp_path, monkeypatch, capsys):
    """`submit.py --ticks N` drives the reference's `collector start`
    loop: each tick reads NEW file rows from the committed offset,
    processes, fans out, commits — data appended between ticks lands in
    the next batch."""
    import json as _json

    sys.path.insert(0, REPO)
    import submit

    in_dir = tmp_path / "logs"
    in_dir.mkdir()
    log = in_dir / "app.log"
    log.write_text('{"code": 200}\n')

    conf_dir = tmp_path / "confs"
    conf_dir.mkdir()
    (conf_dir / "daemon.conf").write_text(_json.dumps({
        "instance_id": "daemon",
        "input": {"kind": "file", "path": str(in_dir / "*.log")},
        "processors": [{"kind": "cel", "rules": ["event.code >= 0"]}],
        "sinks": [{"name": "out", "kind": "file", "predicate": None,
                   "config": {"path": str(tmp_path / "out")}}],
    }))

    # tick 1 consumes the first line; append between ticks via interval=0
    # is racy, so run two explicit invocations instead
    monkeypatch.setattr(sys, "argv", [
        "submit.py", "--config-dir", str(conf_dir),
        "--state-dir", str(tmp_path / "state"), "--ticks", "1",
    ])
    submit.main()
    log.write_text('{"code": 200}\n{"code": 400}\n')  # appended line
    monkeypatch.setattr(sys, "argv", [
        "submit.py", "--config-dir", str(conf_dir),
        "--state-dir", str(tmp_path / "state"), "--ticks", "2",
    ])
    submit.main()
    outlines = capsys.readouterr().out.strip().splitlines()
    assert any("batch=0" in l and "'out': 1" in l for l in outlines), outlines
    assert any("batch=1" in l and "'out': 1" in l for l in outlines), outlines
    # third tick: nothing new → zero-count batch still commits state
    assert any("batch=2" in l and "'out': 0" in l for l in outlines), outlines


def test_submit_daemon_isolates_a_failing_source(spark, tmp_path, monkeypatch, capsys):
    """An instance whose source fails (an ``incremental`` input on a
    missing table) must not stop the daemon: under the default
    ``--on-error drop`` it prints FAILED and the healthy instance after
    it still writes its batch; under ``--on-error raise`` main raises."""
    import json as _json

    import pytest

    sys.path.insert(0, REPO)
    import submit

    log = tmp_path / "app.log"
    log.write_text('{"code": 200}\n')
    conf_dir = tmp_path / "confs"
    conf_dir.mkdir()
    sink = {"name": "out", "kind": "file", "predicate": None}
    (conf_dir / "a_bad.conf").write_text(_json.dumps({
        "instance_id": "bad",
        "input": {"kind": "incremental", "table_path": str(tmp_path / "missing")},
        "sinks": [{**sink, "config": {"path": str(tmp_path / "bad_out")}}],
    }))
    (conf_dir / "b_good.conf").write_text(_json.dumps({
        "instance_id": "good",
        "input": {"kind": "file", "path": str(log)},
        "sinks": [{**sink, "config": {"path": str(tmp_path / "out")}}],
    }))

    def run(*extra):
        monkeypatch.setattr(sys, "argv", [
            "submit.py", "--config-dir", str(conf_dir),
            "--state-dir", str(tmp_path / "state"), "--ticks", "1", *extra,
        ])
        submit.main()

    run()
    outlines = capsys.readouterr().out.strip().splitlines()
    assert any(l.startswith("bad: batch=0 FAILED") for l in outlines), outlines
    assert any(l.startswith("good: batch=0 ") and "'out': 1" in l for l in outlines), outlines
    assert spark.read.text(str(tmp_path / "out" / "batch_id=0")).count() == 1
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        run("--on-error", "raise")
