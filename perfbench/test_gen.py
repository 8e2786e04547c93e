"""Tests of the benchmark's own input generators.

Run from the repository root: ``python3 -m pytest perfbench/test_gen.py``.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from collector_spark import oracle  # noqa: E402
from collector_spark.checkpoint import Manifest  # noqa: E402


def _files(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_pages_same_seed_is_byte_identical_other_seed_differs(tmp_path):
    gen.write_pages(str(tmp_path / "a"), 300, seed=5)
    gen.write_pages(str(tmp_path / "b"), 300, seed=5)
    gen.write_pages(str(tmp_path / "c"), 300, seed=6)
    a, b, c = (_files(str(tmp_path / k)) for k in "abc")
    assert len(a) == 2 * gen.N_FILES
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_pages_embed_the_json_lines_the_extractor_recovers():
    cols = gen.pages_rows(200, seed=3)
    for html, line in zip(cols["html"], cols["json_lines"]):
        logs = oracle.extract_log_lines(html)
        assert logs[0] == line
        assert json.loads(line)["code"] in gen.CODES
    assert {json.loads(ln)["code"] for ln in cols["json_lines"]} == set(gen.CODES)


def test_daemon_schedule_replays_the_same_due_times():
    a = gen.daemon_schedule(seed=1, rate=400.0, seq0=100, first=0, last=500)
    b = gen.daemon_schedule(seed=1, rate=400.0, seq0=100, first=0, last=500)
    c = gen.daemon_schedule(seed=2, rate=400.0, seq0=100, first=0, last=500)
    assert a == b
    assert [d for d, _ in a] == [(seq - 100) / 400.0 for seq in range(500)]
    assert [ln for _, ln in a] != [ln for _, ln in c]
    # appending in ticks gives the same lines as one pass
    parts = [gen.daemon_schedule(1, 400.0, 100, lo, hi) for lo, hi in ((0, 37), (37, 500))]
    assert parts[0] + parts[1] == a


def test_daemon_malformed_lines_fail_syslog_or_cef():
    seed, n = 4, 1000
    bad = [s for s in range(n) if gen.is_malformed(seed, s)]
    assert len(bad) == n // gen.MALFORMED_EVERY
    for seq in range(n):
        line = gen.daemon_line(seed, seq, 0)
        try:
            parsed = oracle.parse_cef(oracle.syslog_rfc3164(line))
        except oracle.ParseError:
            parsed = None
        assert (parsed is None) == gen.is_malformed(seed, seq), line
        if parsed is not None:
            assert parsed["extensions"]["seq"] == str(seq)


def test_manifest_seed_is_batch_record_format(tmp_path):
    lines = gen.manifest_seed_lines(seed=9, n=50)
    assert lines == gen.manifest_seed_lines(seed=9, n=50)
    assert lines != gen.manifest_seed_lines(seed=10, n=50)
    m = Manifest(str(tmp_path), "daemon")
    with open(m.path, "w") as f:
        f.write("\n".join(lines) + "\n")
    records = m.load()
    assert [r.batch_id for r in records] == list(range(50))
    assert m.last_batch_id() == 49
    assert list(m.last_state()) == ["archive/app.log.1"]
    assert len(gen.manifest_seed_lines(seed=9)) == gen.MANIFEST_SEED_RECORDS == 8640
