"""End-to-end pipeline tests: parse → enrich → route → aggregate on the
synthetic pages table, multi-sink fan-out semantics (a row can match
multiple sinks; per-sink counts), and at-least-once resume idempotence
(reference semantics: internal/app/manager/manager.go:171-235)."""

import json
import os

from pyspark.sql import functions as F

from collector_spark import datagen, oracle
from collector_spark.checkpoint import Manifest
from collector_spark.operators.enrich import enrich_pages, url_domain, url_tld
from collector_spark.operators.extract import HtmlExtractor
from collector_spark.operators.router import Route, Router
from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.sinks.sinks import make_sink
from collector_spark.sources.sources import lines_frame


def test_router_multi_match_and_counts(spark):
    events = [
        '{"code": 200, "bytes": 10}',
        '{"code": 500, "bytes": 20}',
        '{"code": 200, "bytes": 99999}',
        "not json",
    ]
    df = spark.createDataFrame([(e,) for e in events], ["value"])
    router = Router(
        [
            Route("all_events"),  # no predicate = everything (reference fan-out)
            Route("ok", "event.code == 200"),
            Route("big", "event.bytes > 50"),
        ]
    )
    counts = {r.sink: r.cnt for r in router.sink_counts(df).collect()}
    # 'not json' predicates eval to null→False but the all route still matches
    assert counts == {"all_events": 4, "ok": 2, "big": 1}

    views = router.split(df)
    assert {r.value for r in views["ok"].collect()} == {events[0], events[2]}
    assert {r.value for r in views["big"].collect()} == {events[2]}
    assert views["all_events"].count() == 4


def test_pipeline_end_to_end_with_manifest(spark, tmp_path):
    """pages → extract log lines → cel filter → json mutate → fan-out
    sinks → manifest commit, then verify counts vs the pure-Python oracle.
    """
    n = 60
    pages = datagen.gen_pages_df(spark, n, partitions=4)
    lines = HtmlExtractor().log_lines(pages).filter(F.col("value").startswith("{"))

    config = PipelineConfig(
        instance_id="t1",
        processors=[
            {"kind": "cel", "rules": ["event.code == 200 || event.code == 400"]},
            {"kind": "json", "add": [{"key": "env", "value": "prod"}]},
        ],
        sinks=[
            SinkSpec("ok", "parquet", "event.code == 200", {"path": str(tmp_path / "ok")}),
            SinkSpec("warn", "parquet", "event.code == 400", {"path": str(tmp_path / "warn")}),
            SinkSpec("archive", "file", None, {"path": str(tmp_path / "arch")}),
        ],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(lines.select("value"), batch_id=0, source_state={"offset": n})

    # oracle: regenerate rows in Python and apply the same semantics
    local = datagen.gen_pages_local(n)
    jl = [l for row in local for l in oracle.extract_log_lines(row["html"]) if l.startswith("{")]
    kept = [json.loads(l) for l in jl if json.loads(l)["code"] in (200, 400)]
    assert record.per_sink_counts["ok"] == sum(1 for e in kept if e["code"] == 200)
    assert record.per_sink_counts["warn"] == sum(1 for e in kept if e["code"] == 400)
    assert record.per_sink_counts["archive"] == len(kept)

    # sink contents: mutation applied, routed-row equality
    ok_rows = spark.read.parquet(str(tmp_path / "ok" / "batch_id=0")).collect()
    assert len(ok_rows) == record.per_sink_counts["ok"]
    for r in ok_rows:
        obj = json.loads(r.value)
        assert obj["env"] == "prod"
        assert obj["code"] == 200

    # per-partition lineage: partition counts sum to the surviving rows
    assert sum(record.partition_counts.values()) == record.per_sink_counts["archive"]

    # manifest committed after sinks
    m = Manifest(str(tmp_path / "state"), "t1")
    assert m.last_batch_id() == 0
    assert m.last_state() == {"offset": n}
    assert sum(m.load()[-1].partition_counts.values()) == record.per_sink_counts["archive"]


def test_resume_idempotence(spark, tmp_path):
    """Re-running a committed batch is a no-op; re-running an uncommitted
    batch overwrites deterministically (no dupes, no loss)."""
    df = spark.createDataFrame([(f'{{"code": 200, "i": {i}}}',) for i in range(10)], ["value"])
    config = PipelineConfig(
        instance_id="t2",
        processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
    )
    state_dir = str(tmp_path / "state")

    pipe = Pipeline(config, state_dir=state_dir)
    r1 = pipe.run_batch(df, batch_id=0)
    assert r1.per_sink_counts == {"out": 10}

    # crash-replay simulation: same batch re-run (e.g. state not read) —
    # run_batch skips committed batches
    r2 = pipe.run_batch(df, batch_id=0)
    assert r2.per_sink_counts == {}  # skipped
    assert spark.read.parquet(str(tmp_path / "out" / "batch_id=0")).count() == 10

    # uncommitted replay: wipe manifest (simulates crash BEFORE commit,
    # AFTER sink write), re-run → overwrite, still exactly 10 rows
    os.remove(os.path.join(state_dir, "t2.manifest.jsonl"))
    pipe2 = Pipeline(config, state_dir=state_dir)
    r3 = pipe2.run_batch(df, batch_id=0)
    assert r3.per_sink_counts == {"out": 10}
    assert spark.read.parquet(str(tmp_path / "out" / "batch_id=0")).count() == 10


def test_quarantine_dead_letter_path(spark, tmp_path):
    """Rows any processor would drop land in the quarantine sink with the
    ORIGINAL line and the first failing stage — replacing the reference's
    silent drops (manager.go:166-169). Kept rows match the normal path."""
    lines = [
        '{"code": 200, "i": 0}',   # passes everything
        '{"code": 500, "i": 1}',   # fails cel
        "not json at all",          # fails cel (invalid json)
        '{"code": 200, "i": 3}',   # passes
        "",                         # fails cel (empty)
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    config = PipelineConfig(
        instance_id="q1",
        processors=[
            {"kind": "cel", "rules": ["event.code == 200"]},
            {"kind": "json", "add": [{"key": "env", "value": "prod"}]},
        ],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
        quarantine={"kind": "parquet", "path": str(tmp_path / "quar")},
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(df, batch_id=0)

    assert record.per_sink_counts["out"] == 2
    assert record.per_sink_counts["__quarantine__"] == 3

    kept = spark.read.parquet(str(tmp_path / "out" / "batch_id=0")).collect()
    assert sorted(json.loads(r.value)["i"] for r in kept) == [0, 3]
    assert all(json.loads(r.value)["env"] == "prod" for r in kept)

    quar = spark.read.parquet(str(tmp_path / "quar" / "batch_id=0")).collect()
    got = {r.value: r.fail_stage for r in quar}
    assert got == {
        '{"code": 500, "i": 1}': "stage_0_cel",
        "not json at all": "stage_0_cel",
        "": "stage_0_cel",
    }

    # parity: kept rows equal the filtering (non-quarantine) pipeline
    config2 = PipelineConfig(
        instance_id="q2",
        processors=config.processors,
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out2")})],
    )
    plain_record = Pipeline(config2, state_dir=str(tmp_path / "state")).run_batch(
        df, batch_id=0
    )
    plain = spark.read.parquet(str(tmp_path / "out2" / "batch_id=0")).collect()
    assert sorted(r.value for r in kept) == sorted(r.value for r in plain)
    # both modes report the same per-stage survivors, and the lineage
    # counts cover exactly the kept rows
    assert record.per_stage_counts == {"stage_0_cel": 2, "stage_1_json": 2}
    assert plain_record.per_stage_counts == record.per_stage_counts
    assert sum(record.partition_counts.values()) == 2
    assert sum(plain_record.partition_counts.values()) == 2

    # the list above is a pickled RDD, so its dead letters took Spark's
    # write; over a LocalRelation the driver writes them, and a sink
    # with a rotation option keeps Spark's write: all three agree
    local = lines_frame(spark, lines)
    runs = []
    for name, extra in (("driver", {}), ("spark", {"max_records_per_file": 100})):
        cfg = PipelineConfig(
            instance_id=f"q_{name}",
            processors=config.processors,
            sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / f"out_{name}")})],
            quarantine={"kind": "parquet", "path": str(tmp_path / f"quar_{name}"), **extra},
        )
        r = Pipeline(cfg).run_batch(local, batch_id=0)
        dead = spark.read.parquet(str(tmp_path / f"quar_{name}" / "batch_id=0")).collect()
        assert {d.value: d.fail_stage for d in dead} == got
        assert (r.per_sink_counts, r.per_stage_counts) == (
            record.per_sink_counts,
            record.per_stage_counts,
        )
        runs.append(r.partition_counts)
    assert runs[0] == runs[1]


def test_quarantine_second_stage_failure(spark, tmp_path):
    """A row passing cel but failing a later parse stage is quarantined
    with THAT stage name."""
    df = spark.createDataFrame(
        [("status=ok prio=high",), ("=broken line=",)], ["value"]
    )
    config = PipelineConfig(
        instance_id="q3",
        processors=[{"kind": "kv", "type": "raw"}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "o")})],
        quarantine={"kind": "parquet", "path": str(tmp_path / "q")},
    )
    record = Pipeline(config).run_batch(df, batch_id=0)
    assert record.per_sink_counts["out"] == 1
    assert record.per_sink_counts["__quarantine__"] == 1
    quar = spark.read.parquet(str(tmp_path / "q" / "batch_id=0")).collect()
    assert quar[0].value == "=broken line="
    assert quar[0].fail_stage == "stage_0_kv"
    assert record.per_stage_counts == {"stage_0_kv": 1}
    assert sum(record.partition_counts.values()) == 1


def test_enrich_broadcast_plan_and_values(spark):
    pages = datagen.gen_pages_df(spark, 40, partitions=2).drop("html")
    lookups = datagen.lookup_dfs(spark)
    enriched = enrich_pages(pages, lookups)
    rows = enriched.select("url", "domain", "tld", "category", "country", "lang", "lang_name").collect()
    assert len(rows) == 40
    for r in rows:
        host = r.url.split("//")[1].split("/")[0]
        assert r.domain == host
        assert r.tld == host.rsplit(".", 1)[1]
        assert r.category is not None  # every synthetic domain is in domain_map
        assert r.country == datagen.TLD_COUNTRY[r.tld]
        assert r.lang_name == datagen.LANG_NAMES[r.lang][0]
    # physical plan: all three joins must be broadcast, zero shuffle joins
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_surfaces_empty_line_counts(spark, tmp_path):
    """Blank lines reaching a text sink are filtered AND tallied into
    BatchRecord.per_sink_empty_counts (the reference's per-output
    empty-line diagnostic, log_analytics.go:133-135), committed with the
    manifest record."""
    rows = [("alpha",), ("",), ("  ",), ("beta",), ("",)]
    df = spark.createDataFrame(rows, "value string")
    config = PipelineConfig(
        instance_id="e1",
        sinks=[SinkSpec("out", "file", None, {"path": str(tmp_path / "out")})],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(df, batch_id=0)
    assert record.per_sink_counts == {"out": 2}
    assert record.per_sink_empty_counts == {"out": 3}
    committed = Manifest(str(tmp_path / "state"), "e1").load()[-1]
    assert committed.per_sink_empty_counts == {"out": 3}


def test_pipeline_surfaces_retry_counts(spark, tmp_path):
    """A sink that needed retries reports them through last_metrics into
    BatchRecord.per_sink_retry_counts and the committed manifest (the
    reference's RetryCount in PipelineResults, pkg/core/channel.go:3-8)."""
    import os

    marker_dir = tmp_path / "tries"
    marker_dir.mkdir()

    def flaky_poster(url, body, headers):
        n = len(os.listdir(marker_dir))
        open(marker_dir / f"t{n}", "w").close()
        if n < 2:
            raise RuntimeError("503")
        return 200

    df = spark.createDataFrame([("alpha",), ("beta",)], "value string").coalesce(1)
    config = PipelineConfig(
        instance_id="r1",
        sinks=[
            SinkSpec(
                "web",
                "http",
                None,
                {
                    "url": "http://example.invalid/x",
                    "poster": flaky_poster,
                    "retry_wait": 0,
                },
            )
        ],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(df, batch_id=0)
    assert record.per_sink_counts == {"web": 2}
    assert record.per_sink_retry_counts == {"web": 2}
    committed = Manifest(str(tmp_path / "state"), "r1").load()[-1]
    assert committed.per_sink_retry_counts == {"web": 2}


def test_status_rollup_and_error_drop(spark, tmp_path):
    """Status roll-up (reference internal/app/manager/status.go:7-27):
    last successful run + errors-since-success; on_error='drop' mirrors
    the reference's drop-batch-and-continue semantics."""

    class BoomSink:
        def write(self, df, batch_id=None):
            raise RuntimeError("sink exploded")

    df = spark.createDataFrame([('{"code": 200}',)], ["value"])
    config = PipelineConfig(
        instance_id="s1",
        processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
    )
    state_dir = str(tmp_path / "state")
    pipe = Pipeline(config, state_dir=state_dir)

    rec0 = pipe.run_batch(df, batch_id=0)
    assert rec0.per_sink_counts == {"out": 1}

    # batch 1 fails in the sink → dropped + recorded, no commit
    pipe.sinks["out"] = BoomSink()
    rec1 = pipe.run_batch(df, batch_id=1, on_error="drop")
    assert rec1.per_sink_counts == {}

    st = pipe.manifest.status()
    assert st.last_successful_run is not None
    assert st.last_successful_result_count == 1
    assert st.has_errors
    assert st.errors_since_successful_run == 1

    assert "sink exploded" in st.errors[0]

    # on_error='raise' propagates AND records
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        pipe.run_batch(df, batch_id=2, on_error="raise")
    assert pipe.manifest.status().errors_since_successful_run == 2

    # a later successful run RESETS the visible errors (reference
    # successfulStatus semantics, status.go:29-44)
    pipe.sinks["out"] = make_sink("parquet", path=str(tmp_path / "out2"))
    rec3 = pipe.run_batch(df, batch_id=3)
    assert rec3.per_sink_counts == {"out": 1}
    st2 = pipe.manifest.status()
    assert not st2.has_errors
    assert st2.errors == []
    assert st2.errors_since_successful_run == 0


def test_config_validation_fails_fast(tmp_path):
    import pytest
    from collector_spark.operators.cel import CelSyntaxError

    with pytest.raises(CelSyntaxError):
        Pipeline(
            PipelineConfig(
                instance_id="bad",
                processors=[{"kind": "cel", "rules": ['event === "hi"']}],
            )
        )
    with pytest.raises(ValueError):
        Pipeline(PipelineConfig(instance_id="bad2", processors=[{"kind": "nope"}]))


def test_run_tick_config_driven_input(spark, tmp_path):
    """Full reference daemon loop from config alone: input block + file
    source offset resume + auto batch ids + state commit (file.go:62-133
    → manager.go:123-235)."""
    log = tmp_path / "app.log"
    log.write_text('{"code": 200, "i": 1}\n{"code": 500, "i": 2}\n')
    config = PipelineConfig(
        instance_id="tick1",
        input={"kind": "file", "path": str(tmp_path / "*.log")},
        processors=[{"kind": "cel", "rules": ["event.code == 200"]}],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "out")})],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))

    r0 = pipe.run_tick(spark)
    assert r0.batch_id == 0
    assert r0.per_sink_counts == {"out": 1}
    assert r0.source_state == {str(log): log.stat().st_size}

    # append two new lines → tick 2 reads ONLY the tail
    with open(log, "a") as f:
        f.write('{"code": 200, "i": 3}\n{"code": 200, "i": 4}\n')
    r1 = pipe.run_tick(spark)
    assert r1.batch_id == 1
    assert r1.per_sink_counts == {"out": 2}
    vals = sorted(
        json.loads(r.value)["i"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch_id=1")).collect()
    )
    assert vals == [3, 4]

    # nothing new → zero-result tick still commits state (manager.go:132-136)
    r2 = pipe.run_tick(spark)
    assert r2.batch_id == 2
    assert r2.per_sink_counts.get("out", 0) == 0
    m = Manifest(str(tmp_path / "state"), "tick1")
    assert m.last_batch_id() == 2


def test_config_dir_loading(tmp_path):
    conf = {
        "instance_id": "",
        "processors": [{"kind": "syslog", "type": "raw"}],
        "sinks": [{"name": "out", "kind": "file", "predicate": None, "config": {"path": str(tmp_path / "o")}}],
    }
    p = tmp_path / "myinst.conf"
    p.write_text(json.dumps(conf))
    from collector_spark.pipeline import load_instances

    instances = load_instances(str(tmp_path))
    assert list(instances) == ["myinst"]


def test_config_dir_rejects_duplicate_instance_ids(tmp_path):
    """Two .conf files with one instance_id would share a manifest; the
    later one must not silently replace the earlier."""
    import pytest

    from collector_spark.pipeline import load_instances

    conf = {"instance_id": "same", "sinks": [{"name": "out", "kind": "stdout"}]}
    for name in ("a.conf", "b.conf"):
        (tmp_path / name).write_text(json.dumps(conf))
    with pytest.raises(ValueError, match="same") as err:
        load_instances(str(tmp_path))
    assert str(tmp_path / "a.conf") in str(err.value)
    assert str(tmp_path / "b.conf") in str(err.value)


def test_manifest_replay_of_old_batch_does_not_roll_back_resume_token(tmp_path):
    """commit() of a replayed OLDER batch rewrites its record at the end
    of the manifest file; last_batch_id/last_state must still answer by
    MAX batch id, or the next tick reuses a committed id, skips the
    fresh read as a duplicate, and acks unwritten data."""
    from collector_spark.checkpoint import BatchRecord, Manifest

    m = Manifest(str(tmp_path / "state"), "replay")
    for b in (0, 1, 2):
        m.commit(BatchRecord(batch_id=b, source_state={"off": b * 10}))
    m.commit(BatchRecord(batch_id=1, source_state={"off": 99}))  # replay
    assert m.last_batch_id() == 2
    assert m.last_state() == {"off": 20}


def test_pipeline_config_file_without_instance_id_uses_filename(tmp_path):
    from collector_spark.pipeline import PipelineConfig

    p = tmp_path / "my_instance.conf"
    p.write_text('{"sinks": []}')
    cfg = PipelineConfig.from_file(str(p))
    assert cfg.instance_id == "my_instance"


def test_pipeline_grok_then_cel_routing(spark, tmp_path):
    """The round-4 parser kinds run INSIDE the pipeline config path:
    raw access-log lines → grok (typed JSON objects) → cel filter on
    the extracted fields → routed sinks with per-sink counts."""
    lines = [
        '10.0.0.1 GET /api/a 200',
        '10.0.0.2 POST /api/b 500',
        '10.0.0.3 GET /api/c 404',
        'garbage line that grok drops',
        '10.0.0.4 GET /api/d 200',
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    config = PipelineConfig(
        instance_id="grok1",
        processors=[
            {"kind": "grok",
             "pattern": "%{IP:client} %{WORD:method} %{NOTSPACE:path} %{INT:status}"},
            {"kind": "cel", "rules": ["event.status >= 200"]},
        ],
        sinks=[
            SinkSpec("errors", "parquet", "event.status >= 400",
                     {"path": str(tmp_path / "err")}),
            SinkSpec("all", "file", None, {"path": str(tmp_path / "all")}),
        ],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(df, batch_id=0)
    assert record.per_sink_counts == {"errors": 2, "all": 4}
    err = [json.loads(r.value) for r in
           spark.read.parquet(str(tmp_path / "err" / "batch_id=0")).collect()]
    assert sorted(e["status"] for e in err) == [404, 500]
    assert all(set(e) == {"client", "method", "path", "status"} for e in err)


def test_pipeline_csv_processor_config_path(spark, tmp_path):
    df = spark.createDataFrame(
        [("1,click,2.5",), ("2,error,9.0",), ("broken",)], ["value"]
    )
    config = PipelineConfig(
        instance_id="csv1",
        processors=[
            {"kind": "csv", "schema": "id bigint, kind string, v double"},
            {"kind": "cel", "rules": ['event.kind == "error"'], "action": "reject"},
        ],
        sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / "o")})],
    )
    pipe = Pipeline(config, state_dir=str(tmp_path / "state"))
    record = pipe.run_batch(df, batch_id=0)
    assert record.per_sink_counts == {"out": 1}
    rows = [json.loads(r.value) for r in
            spark.read.parquet(str(tmp_path / "o" / "batch_id=0")).collect()]
    assert rows == [{"id": 1, "kind": "click", "v": 2.5}]
