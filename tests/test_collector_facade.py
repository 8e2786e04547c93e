"""Collector facade — the reference's public embedding API
(pkg/collector/collector.go:30-231): Start/Stop/Status/List lifecycle
over multiple instances, tick-driven."""

import pytest

from collector_spark import Collector
from collector_spark.sources.sources import QueuePollerSource


def _conf(out_dir, rules=None):
    return {
        "processors": [{"kind": "cel", "rules": rules or ["event.code >= 0"]}],
        "sinks": [
            {"name": "out", "kind": "file", "predicate": None,
             "config": {"path": str(out_dir)}}
        ],
    }


def test_lifecycle_start_tick_status_stop(spark, tmp_path):
    c = Collector(state_dir=str(tmp_path / "state"))

    queue = [['{"code": 200}', '{"code": 404}']]
    pipe = c.start("a", _conf(tmp_path / "a"))
    pipe.source = QueuePollerSource(lambda n: queue.pop(0) if queue else [])
    c.start("b", _conf(tmp_path / "b"))

    assert c.list() == ["a", "b"]

    records = c.tick_all(spark)
    assert set(records) == {"a"}  # b has no input block → not ticked
    assert records["a"].per_sink_counts == {"out": 2}

    st = c.status("a")
    assert st.last_successful_result_count == 2
    assert not st.has_errors
    assert set(c.list_status()) == {"a", "b"}

    c.stop("a")
    assert c.list() == ["b"]
    with pytest.raises(KeyError):
        c.stop("a")
    c.stop_all()
    assert c.list() == []


def test_start_rejects_bad_config_and_duplicates(tmp_path):
    from collector_spark.operators.cel import CelSyntaxError

    c = Collector(state_dir=str(tmp_path / "state"))
    # bad CEL fails at Start, never becomes an instance (collector.go:83-125)
    with pytest.raises(CelSyntaxError):
        c.start("bad", _conf(tmp_path / "x", rules=["event ==="]))
    assert c.list() == []
    # bad sink config (schema validation) also fails at Start
    with pytest.raises(ValueError):
        c.start("bad2", {"sinks": [{"name": "o", "kind": "file",
                                    "predicate": None, "config": {}}]})
    c.start("a", _conf(tmp_path / "a"))
    with pytest.raises(ValueError):
        c.start("a", _conf(tmp_path / "a"))


def test_tick_all_isolates_failing_instances(spark, tmp_path):
    """One instance's SOURCE failure must not stall the other instances
    — reference per-manager isolation: under on_error='drop' run_tick
    records it, so the error lands in status()."""
    c = Collector(state_dir=str(tmp_path / "state"))

    def boom_receiver(n):
        raise RuntimeError("receiver down")

    bad = c.start("bad", _conf(tmp_path / "bad"))
    bad.source = QueuePollerSource(boom_receiver)
    queue = [['{"code": 200}']]
    good = c.start("good", _conf(tmp_path / "good"))
    good.source = QueuePollerSource(lambda n: queue.pop(0) if queue else [])

    records = c.tick_all(spark)
    assert records["bad"].failed
    assert records["good"].per_sink_counts == {"out": 1}
    assert "receiver down" in c.status("bad").errors[0]


def test_stateless_collector_status(spark, tmp_path):
    """Without a state_dir the status API still works (the reference's
    Status is an in-memory roll-up)."""
    c = Collector()  # no state_dir
    queue = [['{"code": 200}', '{"code": 201}']]
    pipe = c.start("a", _conf(tmp_path / "a"))
    pipe.source = QueuePollerSource(lambda n: queue.pop(0) if queue else [])
    c.tick(spark, "a")
    st = c.status("a")
    assert st.last_successful_result_count == 2
    assert not st.has_errors
    assert set(c.list_status()) == {"a"}


def test_stateless_collector_resumes_within_the_process(spark, tmp_path):
    """Without a state_dir the in-memory manifest carries the file
    offsets and batch ids from tick to tick: an appended line is the next
    batch, not a re-read of the whole file as batch 0."""
    log = tmp_path / "app.log"
    log.write_text('{"code": 200}\n{"code": 201}\n')
    c = Collector()
    c.start("a", {**_conf(tmp_path / "out"), "input": {"kind": "file", "path": str(log)}})
    first = c.tick(spark, "a")
    with open(log, "a") as f:
        f.write('{"code": 202}\n')
    second = c.tick(spark, "a")
    assert (first.batch_id, first.per_sink_counts) == (0, {"out": 2})
    assert (second.batch_id, second.per_sink_counts) == (1, {"out": 1})
    written = [spark.read.text(str(tmp_path / "out" / f"batch_id={b}")).count() for b in (0, 1)]
    assert written == [2, 1]
    assert c.status("a").last_successful_result_count == 1


@pytest.mark.parametrize("state", [False, True], ids=["stateless", "state_dir"])
def test_tick_applies_on_error_to_a_failing_source(spark, tmp_path, state):
    """A source that raises is the tick's failure: 'drop' returns a
    failed record under the tick's batch id and status() shows the
    error; 'raise' propagates it."""
    c = Collector(state_dir=str(tmp_path / "state") if state else None)

    def boom_receiver(n):
        raise RuntimeError("receiver down")

    c.start("bad", _conf(tmp_path / "bad")).source = QueuePollerSource(boom_receiver)
    record = c.tick(spark, "bad")
    assert (record.batch_id, record.failed) == (0, True)
    st = c.status("bad")
    assert st.errors == ["RuntimeError: receiver down"]
    assert st.errors_since_successful_run == 1
    with pytest.raises(RuntimeError, match="receiver down"):
        c.tick(spark, "bad", on_error="raise")


def test_start_does_not_mutate_caller_config(tmp_path):
    from collector_spark.pipeline import PipelineConfig

    cfg = PipelineConfig.from_dict({"instance_id": "orig", **_conf(tmp_path / "a")})
    c = Collector(state_dir=str(tmp_path / "state"))
    c.start("a", cfg)
    c.start("b", cfg)
    assert cfg.instance_id == "orig"  # caller's object untouched
    assert c._instances["a"].config.instance_id == "a"
    assert c._instances["b"].config.instance_id == "b"


def test_stop_closes_listener_sources(tmp_path):
    c = Collector(state_dir=str(tmp_path / "state"))
    pipe = c.start("sys", {**_conf(tmp_path / "s"),
                           "input": {"kind": "syslog", "port": 0,
                                     "protocol": "udp", "format": "raw"}})
    pipe.source.start()
    assert pipe.source.udp_port is not None
    c.stop("sys")
    assert pipe.source._servers == []  # listener shut down
