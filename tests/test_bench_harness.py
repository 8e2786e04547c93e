"""bench.py's timing core and headline, and the query table it reads,
without Spark."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402


def _sweep_result() -> dict:
    """A full sweep artifact: every bench query plus pages_pipeline, raw
    and normalized, with both calibration blocks."""
    timings = {"pages_pipeline": 12.345}
    timings.update({name: 123.456 for name in bench.BENCH_QUERIES})
    return {
        "metric": "e2e_parse_route_aggregate_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "pages_n": 40000,
        "pages_docs_per_sec": 123456.7,
        "pages_sink_counts": {"ok": 1000, "errors": 200, "all": 1200},
        "cpus": 32,
        "host_calibration": {"rows": bench.CALIBRATION_ROWS, "pre_sec": 6.1, "post_sec": 6.2},
        "bus_calibration": {"buf_mb": bench.BUS_BUF_MB, "copies": 240, "pre_sec": 1.1, "post_sec": 1.2},
        "calibration_reference": bench.REF_CALIBRATION,
        "calibration_factor": 0.9661,
        "queries_normalized": {k: round(v * 0.9661, 3) for k, v in timings.items()},
        "value_normalized": 7168.123,
    }


def test_sweep_headline_fits_and_points_at_artifact(tmp_path, monkeypatch, capsys):
    assert len(bench.BENCH_QUERIES) == 60
    out = _sweep_result()
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    bench.emit("sweep", out)
    line = capsys.readouterr().out.strip()
    assert "\n" not in line
    assert len(line.encode()) <= 1024
    head = json.loads(line)
    assert {"metric", "value", "unit", "artifact"} <= set(head)
    assert head["value_normalized"] == out["value_normalized"]
    assert head["calibration_factor"] == out["calibration_factor"]
    assert os.path.basename(head["artifact"]) == "last_sweep.json"
    with open(tmp_path / "last_sweep.json") as f:
        assert json.load(f) == out


def test_best_of_returns_minimum_and_calls_reps_times(monkeypatch):
    clock = [0.0]
    durations = iter([0.3, 0.1, 0.2])
    calls = []

    def fn():
        calls.append(1)
        clock[0] += next(durations)
        return len(calls)

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    best, last = bench.best_of(fn, 3)
    assert len(calls) == 3
    assert abs(best - 0.1) < 1e-9
    assert last == 3


def test_check_sinks_rejects_counts_that_do_not_partition():
    bench.check_sinks({"ok": 2, "errors": 1, "all": 3})
    with pytest.raises(SystemExit):
        bench.check_sinks({"ok": 2, "errors": 1, "all": 4})


def test_query_table_green_follows_correctness_artifacts():
    """Each row's ``green`` is 0 or the newest CORRECTNESS round whose
    gate passed that query; the driver window (first 50 of ``queries()``)
    holds every row staler than the newest round; the bench lists nest
    inside the table."""
    passed: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, res in json.load(f).items():
                if res["rows_match"] and res["schema_match"] and res["hash_match"]:
                    passed[name] = max(passed.get(name, 0), rnd)
    newest = max(passed.values())
    for name, q in entry_mod.QUERIES.items():
        assert q.green in (0, passed.get(name)), f"{name}: green {q.green}"

    window = set(list(entry_mod.queries())[:50])
    stale = {name for name, q in entry_mod.QUERIES.items() if q.green < newest}
    assert stale <= window, sorted(stale - window)

    assert set(bench.SPOT_QUERIES) <= set(bench.BENCH_QUERIES) <= set(entry_mod.queries())
    assert (len(bench.SPOT_QUERIES), len(bench.BENCH_QUERIES)) == (10, 60)
