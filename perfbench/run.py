"""Benchmark for the collector path.

Run from the repository root:

    python3 perfbench/run.py --workload pages_agg --seed 1 --seconds 10 --trace 0

Workloads (inputs come only from ``perfbench/gen.py`` and ``--seed``):

- ``pages_agg``: the north-star batch job, ``plans.pages_job.build_pages_agg``
  over a synthetic pages parquet, collected once per iteration;
- ``fanout_batch``: one plain-mode ``Pipeline.run_batch`` per iteration
  over the same pages' JSON log lines (cel, json add on the pandas
  engine, two predicated parquet sinks, one catch-all text sink, a
  fresh manifest);
- ``daemon_ticks``: back-to-back ``Collector.tick`` calls on a
  ``FileSource`` tail fed open-loop at a fixed line rate (syslog, kv/cef
  as JSON, cel, quarantine on, a manifest holding a day of history).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs once
untraced and once with spans wrapped around the library's public methods
from outside, and prints the per-layer metrics. The last stdout line is
one JSON object ``{correct, attempted, failed, metrics}``. Every run
checks its outputs against a reference computed here from the generated
files, outside the timed region. All state lives under
``.perfbench_state/`` in the working directory, reset at the start of
each run. ``perfbench/README.md`` lists which end-to-end metric each
layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time
from collections import Counter

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

PAGES_N = 40_000
# lines per second: low enough that a slow tick barely grows the next
# batch, so fixed per-tick costs set the latency
DAEMON_RATE = 300.0
DAEMON_WARM_TICKS = 1
SETUP_REPS = 3
# a fixed warm-up, so every run measures the JIT at the same stage; the
# median over the measured batches absorbs what warming is left
WARM_BATCHES = 2
CEL_RULE = "event.code == 200 || event.code >= 400"
DAEMON_CEL_RULE = 'event.device_vendor == "synthetic"'
QUARANTINE = "__quarantine__"

END_TO_END = {
    "docs_per_s": "1/s",
    "latency_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase timings on stderr; stdout carries only the result line."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


CPUS = sorted(os.sched_getaffinity(0))
# Spark task threads: half the cores, so the JVM's GC and compiler threads
# and this process run beside the tasks rather than between them
THREADS = max(1, len(CPUS) // 2)


def driver_mem() -> str:
    """1.5 GiB, or a quarter of physical RAM if that is less. The heap
    fills within a run, so the driver's peak RSS does not grow with the
    number of batches a run fits."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{min(1536, total_kb // 1024 // 4)}m"


class State:
    """The one scratch root of a run, emptied before use."""

    def __init__(self, root: str):
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        for sub in ("input", "out", "state", "spark-local", "tmp", "spill"):
            os.makedirs(os.path.join(root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


# -- session -----------------------------------------------------------------


def configure_env(st: State) -> None:
    """Environment the driver JVM and its Python workers inherit."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = st.path("spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = st.path("tmp")


def start_session(st: State):
    from collector_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{THREADS}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": st.path("spark-local"),
            # a fixed, pre-touched heap keeps the driver's peak RSS
            # comparable between runs; ParallelGC as in get_spark
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={THREADS} "
                f"-Xms{driver_mem()} -XX:-UseAdaptiveSizePolicy -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={st.path('tmp')}"
            ),
        },
    )


def warm_python(spark) -> None:
    """Fork one Python worker per task thread and import pandas/pyarrow
    there."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    n = THREADS
    spark.range(0, n * 1000, numPartitions=n).select(plus_one("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def setup(workload, st: State):
    """SETUP_REPS times: start a session, bind the workload's instances,
    warm the Python workers. The first start launches the JVM; later ones
    stop and restart the SparkContext inside it."""
    samples, spark, bound = [], None, None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(st)
        t1 = time.perf_counter()
        bound = workload.bind(spark)
        t2 = time.perf_counter()
        warm_python(spark)
        t3 = time.perf_counter()
        samples.append((t1 - t0, t2 - t1, t3 - t2))
    return spark, bound, samples


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this process's peak RSS."""
    name = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    with open(f"/proc/{int(name.split('@')[0])}/status") as f:
        jvm_kb = int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def job_counts(spark, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) of one job group, from Spark's
    public StatusTracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            sinfo = tracker.getStageInfo(sid)
            stages += 1
            if sinfo is not None:
                tasks += sinfo.numTasks
                failed += sinfo.numFailedTasks
    return len(jobs), stages, tasks, failed


def noop_s(df, reps: int = 2) -> float:
    """Median wall time of materialising ``df`` through the noop writer."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def marginals(names: list[str], chain_times: list[float]) -> dict[str, float]:
    """Operator i's time: chain up to i minus chain up to i-1 (index 0 is
    the input alone). Catalyst fuses stages, so this is an estimate from
    outside."""
    return {f"{n}.s": chain_times[i + 1] - chain_times[i] for i, n in enumerate(names)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# -- reference ---------------------------------------------------------------

_DOMAIN = re.compile(r"^[a-z]+://([^/:?#]+)")


def pages_reference(input_dir: str, seed: int) -> dict:
    """Per-category route sums over the generated pages, computed with
    ``oracle.extract_log_lines`` and plain Python."""
    import pyarrow.parquet as pq

    from collector_spark import oracle
    from collector_spark.datagen import domain_map_rows

    category = {r["domain"]: r["category"] for r in domain_map_rows(seed)}
    table = pq.read_table(os.path.join(input_dir, "pages"), columns=["url", "html"])
    out: dict = {}
    for url, html in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        cat = category.get(_DOMAIN.match(url).group(1))
        for line in oracle.extract_log_lines(html):
            if not line.startswith("{"):
                continue
            code = json.loads(line)["code"]
            if code == 200 or code >= 400:
                row = out.setdefault(cat, {"ok": 0, "errors": 0, "all": 0})
                row["ok"] += code == 200
                row["errors"] += code >= 400
                row["all"] += 1
    return out


def lines_reference(input_dir: str) -> dict[str, int]:
    """Per-sink counts of the fan-out pipeline over the JSON line files."""
    ok = errors = 0
    lines_dir = os.path.join(input_dir, "lines")
    for fname in sorted(os.listdir(lines_dir)):
        with open(os.path.join(lines_dir, fname)) as f:
            for line in f:
                code = json.loads(line)["code"]
                ok += code == 200
                errors += code >= 400
    return {"ok": ok, "errors": errors, "archive": ok + errors}


# -- workloads ---------------------------------------------------------------


class Run:
    """What one measured phase produced, one entry per batch or tick."""

    def __init__(self):
        self.durations: list[float] = []
        self.docs: list[int] = []
        self.latencies: list[float] = []  # per line, daemon only
        self.records: list = []
        self.groups: list[str] = []
        self.sink_bytes: list[int] = []
        self.lag_lines: list[int] = []
        self.attempted = 0
        self.failed = 0

    def end_to_end(self) -> dict[str, float]:
        if self.latencies:
            lat = np.asarray(self.latencies)
            docs_per_s = sum(self.docs) / sum(self.durations)
        else:
            # every doc of a batch waits for the whole batch
            lat = np.asarray(self.durations)
            docs_per_s = statistics.median(d / t for d, t in zip(self.docs, self.durations))
        return {
            "docs_per_s": float(docs_per_s),
            "latency_p50_s": float(np.percentile(lat, 50)),
        }


class BatchWorkload:
    """Shared loop of the two batch workloads: a fixed number of warm-up
    iterations, then iterations for the measured seconds."""

    cpus = CPUS
    last_id = None

    def after_batch(self, i: int) -> None:
        pass

    def sink_bytes(self, i: int) -> int:
        return 0

    def warm(self, spark, bound) -> int:
        for i in range(WARM_BATCHES):
            self.check_record(self.batch(spark, bound, i))
            self.after_batch(i)
        self.next_id = WARM_BATCHES
        return WARM_BATCHES

    def measure(self, spark, bound, seconds: float, tracer: Tracer | None) -> Run:
        run = Run()
        deadline = time.perf_counter() + seconds
        while run.attempted == 0 or time.perf_counter() < deadline:
            i = self.next_id
            self.next_id += 1
            group = f"perfbench-{i}"
            if tracer is not None:
                spark.sparkContext.setJobGroup(group, group)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                record = self.batch(spark, bound, i)
            except Exception as e:  # noqa: BLE001 -- counted, the run goes on
                print(f"batch {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
                run.failed += 1
                continue
            run.durations.append(time.perf_counter() - t0)
            run.docs.append(PAGES_N)
            run.records.append(record)
            run.groups.append(group)
            run.sink_bytes.append(self.sink_bytes(i))
            self.check_record(record)
            self.after_batch(i)
        return run


class PagesAgg(BatchWorkload):
    name = "pages_agg"

    def prepare(self, st: State, seed: int) -> None:
        self.st, self.seed = st, seed
        gen.write_pages(st.path("input"), PAGES_N, seed)
        self.reference = pages_reference(st.path("input"), seed)
        self.ok = True

    def bind(self, spark):
        from collector_spark.plans.pages_job import build_pages_agg

        pages = spark.read.parquet(self.st.path("input", "pages"))
        build_pages_agg(spark, pages, self.seed)
        return pages

    def batch(self, spark, pages, i):
        from collector_spark.plans.pages_job import build_pages_agg

        return build_pages_agg(spark, pages, self.seed).collect()

    def check_record(self, rows) -> None:
        got = {r["category"]: {k: r[k] for k in ("ok", "errors", "all")} for r in rows}
        if got != self.reference:
            print(f"pages_agg mismatch: {got} != {self.reference}", file=sys.stderr)
            self.ok = False

    def check_outputs(self, spark, bound) -> bool:
        return self.ok

    def trace(self, tracer, bound) -> None:
        pass  # no pipeline, sink or manifest runs here

    def operators(self, spark, pages) -> dict[str, float]:
        """The chain of ``build_pages_agg``, rebuilt from the same public
        operators and materialised one step longer each time."""
        from pyspark.sql import functions as F

        from collector_spark.datagen import lookup_dfs
        from collector_spark.operators.cel import CelFilter
        from collector_spark.operators.enrich import url_domain, url_tld
        from collector_spark.operators.extract import HtmlExtractor
        from collector_spark.operators.json_mutate import JsonMutator
        from collector_spark.operators.router import Router
        from collector_spark.plans.pages_job import ROUTES

        lookups = lookup_dfs(spark, self.seed)
        steps = [pages.select("url", "html")]
        steps.append(
            HtmlExtractor(engine="native")
            .log_lines(pages, keep_cols=("url",))
            .filter(F.col("value").startswith("{"))
        )
        steps.append(CelFilter(rules=[CEL_RULE], action="accept").apply(steps[-1]))
        steps.append(
            JsonMutator(add=[{"key": "pipeline", "value": "bench"}], engine="native").apply(
                steps[-1]
            )
        )
        steps.append(
            steps[-1]
            .withColumn("domain", url_domain(F.col("url")))
            .withColumn("tld", url_tld(F.col("url")))
            .join(F.broadcast(lookups["domain_map"]), "domain", "left")
            .join(F.broadcast(lookups["tld_map"]), "tld", "left")
        )
        aggs = [F.sum(c.cast("long")).alias(n) for n, c in Router(ROUTES)._route_cols()]
        steps.append(steps[-1].groupBy("category").agg(*aggs))
        times = [noop_s(df) for df in steps]
        return marginals(["extract", "cel", "json_mutate", "enrich", "aggregate"], times)


class FanoutBatch(BatchWorkload):
    name = "fanout_batch"
    SINKS = ("ok", "errors", "archive")

    def prepare(self, st: State, seed: int) -> None:
        self.st = st
        gen.write_pages(st.path("input"), PAGES_N, seed)
        self.reference = lines_reference(st.path("input"))
        self.ok = True

    def config(self):
        from collector_spark.pipeline import PipelineConfig, SinkSpec

        out = self.st.path("out")
        return PipelineConfig(
            instance_id="fanout",
            processors=[
                {"kind": "cel", "rules": [CEL_RULE]},
                {"kind": "json", "add": [{"key": "pipeline", "value": "bench"}]},
            ],
            sinks=[
                SinkSpec("ok", "parquet", "event.code == 200", {"path": f"{out}/ok"}),
                SinkSpec("errors", "parquet", "event.code >= 400", {"path": f"{out}/errors"}),
                SinkSpec("archive", "file", None, {"path": f"{out}/archive"}),
            ],
        )

    def bind(self, spark):
        from collector_spark.pipeline import Pipeline

        shutil.rmtree(self.st.path("state", "fanout"), ignore_errors=True)
        pipe = Pipeline(self.config(), state_dir=self.st.path("state", "fanout"))
        self.manifest_path = pipe.manifest.path
        return pipe, spark.read.text(self.st.path("input", "lines"))

    def batch(self, spark, bound, i):
        pipe, lines = bound
        return pipe.run_batch(lines, batch_id=i)

    def check_record(self, record) -> None:
        if record.per_sink_counts != self.reference:
            print(f"fanout mismatch: {record.per_sink_counts} != {self.reference}", file=sys.stderr)
            self.ok = False

    def after_batch(self, i: int) -> None:
        """Keep only the newest batch's output, to bound disk use."""
        if self.last_id is not None:
            for name in self.SINKS:
                shutil.rmtree(
                    self.st.path("out", name, f"batch_id={self.last_id}"), ignore_errors=True
                )
        self.last_id = i

    def sink_bytes(self, i: int) -> int:
        return sum(dir_bytes(self.st.path("out", n, f"batch_id={i}")) for n in self.SINKS)

    def check_outputs(self, spark, bound) -> bool:
        """Read the newest batch back: row counts per sink, and the json
        add applied to every archived line."""
        from pyspark.sql import functions as F

        i = self.last_id
        got = {
            n: spark.read.parquet(self.st.path("out", n, f"batch_id={i}")).count()
            for n in ("ok", "errors")
        }
        archive = spark.read.text(self.st.path("out", "archive", f"batch_id={i}"))
        got["archive"] = archive.count()
        mutated = archive.filter(F.get_json_object("value", "$.pipeline") == "bench").count()
        if got != self.reference or mutated != got["archive"]:
            print(f"fanout outputs: {got}, mutated {mutated}", file=sys.stderr)
            return False
        return self.ok

    def trace(self, tracer: Tracer, bound) -> None:
        pipe, _ = bound
        tracer.wrap(pipe, "run_batch", "pipeline.run_batch")
        tracer.wrap(pipe, "transform", "operators.transform")
        tracer.wrap(pipe.router, "split", "router.split")
        for name, sink in pipe.sinks.items():
            tracer.wrap(sink, "write", f"sinks.write.{name}")
        for m in ("committed", "last_state", "last_batch_id"):
            tracer.wrap(pipe.manifest, m, "checkpoint.read")
        tracer.wrap(pipe.manifest, "commit", "checkpoint.commit")

    def operators(self, spark, bound) -> dict[str, float]:
        pipe, lines = bound
        steps = [lines]
        for _, stage in pipe.stages:
            steps.append(stage.apply(steps[-1]))
        times = [noop_s(df) for df in steps]
        return marginals(["cel", "json_mutate"], times)


class DaemonTicks:
    """Open loop: before every tick, append each line that fell due since
    the previous tick; a line's latency runs from its due time to the
    return of the tick that committed it."""

    name = "daemon_ticks"
    INSTANCE = "daemon"
    # A tick is a chain of short hand-offs between the driver, the JVM's
    # scheduler and task threads and a Python worker. On a shared host each
    # hand-off to an idle vCPU can wait for the hypervisor to wake it, so
    # the whole run is kept on THREADS CPUs: on a 4-vCPU guest this cut the
    # run-to-run spread of latency_p50_s by more than half.
    cpus = CPUS[:THREADS]
    SINKS = ("events", "quarantine")

    def prepare(self, st: State, seed: int) -> None:
        from collector_spark.checkpoint import Manifest

        self.st, self.seed = st, seed
        self.log_path = st.path("input", "app.log")
        open(self.log_path, "w").close()
        self.manifest_path = Manifest(st.path("state"), self.INSTANCE).path
        with open(self.manifest_path, "w") as f:
            f.write("\n".join(gen.manifest_seed_lines(seed)) + "\n")
        self.appended = 0
        self.read_upto = 0  # lines consumed by completed ticks
        self.seq0 = 0  # first line of the open loop
        self.t0 = time.perf_counter()
        self.ok = True

    def config(self) -> dict:
        out = self.st.path("out")
        return {
            "input": {"kind": "file", "path": self.log_path, "spill_dir": self.st.path("spill")},
            "processors": [
                {"kind": "syslog", "type": "rfc3164"},
                {"kind": "kv", "type": "cef", "as_json": True},
                {"kind": "cel", "rules": [DAEMON_CEL_RULE]},
            ],
            "sinks": [{"name": "events", "kind": "file", "config": {"path": f"{out}/events"}}],
            "quarantine": {"kind": "parquet", "path": f"{out}/quarantine"},
        }

    def bind(self, spark):
        from collector_spark.collector import Collector

        collector = Collector(state_dir=self.st.path("state"))
        collector.start(self.INSTANCE, self.config())
        return collector

    def tick(self, spark, collector, last: int, run: Run | None, since: float = 0.0) -> None:
        """Append lines up to (not including) seq ``last``, then tick. The
        run records the latency of each line due at or after ``since``."""
        first = self.appended
        batch = gen.daemon_schedule(self.seed, DAEMON_RATE, self.seq0, first, last)
        with open(self.log_path, "a") as f:
            f.writelines(line + "\n" for _, line in batch)
        self.appended = last
        tick_start = time.perf_counter()
        lag = self.due_upto(tick_start) - self.read_upto
        record = collector.tick(spark, self.INSTANCE)
        done = time.perf_counter()
        self.read_upto = last
        self.ok &= not record.failed
        if run is None:
            return
        run.attempted += 1
        run.failed += int(record.failed)
        run.durations.append(done - tick_start)
        run.docs.append(last - first)
        run.records.append(record)
        run.lag_lines.append(lag)
        run.sink_bytes.append(self.sink_bytes(record.batch_id))
        commit = done - self.t0
        run.latencies.extend(commit - due for due, _ in batch if due >= since)

    def due_upto(self, now: float) -> int:
        """One past the last seq due by ``now``."""
        return self.seq0 + int((now - self.t0) * DAEMON_RATE) + 1

    def warm(self, spark, collector) -> int:
        """Closed-loop ticks of a fixed size, so the Python workers and
        the JIT are warm before the open loop's clock starts."""
        chunk = int(DAEMON_RATE * 2)
        for k in range(DAEMON_WARM_TICKS):
            self.tick(spark, collector, (k + 1) * chunk, None)
        self.seq0 = self.appended
        self.t0 = time.perf_counter()
        return DAEMON_WARM_TICKS

    def measure(self, spark, collector, seconds: float, tracer: Tracer | None) -> Run:
        """Ticks started within ``seconds``. Each tick commits every line
        due before it started, so the lines measured are all lines due
        from the start of the phase to the start of its last tick."""
        run = Run()
        start = time.perf_counter()
        since = start - self.t0
        while run.attempted == 0 or time.perf_counter() < start + seconds:
            group = f"perfbench-tick-{self.appended}"
            if tracer is not None:
                spark.sparkContext.setJobGroup(group, group)
            run.groups.append(group)
            self.tick(spark, collector, self.due_upto(time.perf_counter()), run, since)
        return run

    def sink_bytes(self, batch_id: int) -> int:
        return sum(
            dir_bytes(self.st.path("out", n, f"batch_id={batch_id}")) for n in self.SINKS
        )

    def check_outputs(self, spark, collector) -> bool:
        """Every appended line lands exactly once in events or
        quarantine, the quarantine holds exactly the malformed lines, and
        the resume offset is the file size."""
        from collector_spark.checkpoint import Manifest

        events = spark.read.text(self.st.path("out", "events")).select("value").collect()
        quarantined = (
            spark.read.parquet(self.st.path("out", "quarantine")).select("value").collect()
        )
        seqs = Counter(int(json.loads(r.value)["extensions"]["seq"]) for r in events)
        q_seqs = Counter(int(re.search(r"seq=(\d+)", r.value).group(1)) for r in quarantined)
        expected_q = {s for s in range(self.appended) if gen.is_malformed(self.seed, s)}
        state = Manifest(self.st.path("state"), self.INSTANCE).last_state()
        checks = {
            "exactly_once": seqs + q_seqs == Counter(range(self.appended)),
            "quarantine": set(q_seqs) == expected_q and sum(q_seqs.values()) == len(expected_q),
            "resume_offset": state.get(self.log_path) == os.path.getsize(self.log_path),
            "no_failed_tick": self.ok,
        }
        if not all(checks.values()):
            print(f"daemon_ticks checks: {checks}", file=sys.stderr)
        return all(checks.values())

    def trace(self, tracer: Tracer, collector) -> None:
        pipe = collector._instances[self.INSTANCE]
        tracer.wrap(collector, "tick", "collector.tick")
        tracer.wrap(pipe.source, "read_new", "sources.read_new")
        tracer.wrap(pipe, "run_batch", "pipeline.run_batch")
        tracer.wrap(pipe, "transform_tagged", "operators.transform")
        tracer.wrap(pipe.router, "split", "router.split")
        for name, sink in pipe.sinks.items():
            tracer.wrap(sink, "write", f"sinks.write.{name}")
        tracer.wrap(pipe.quarantine_sink, "write", "sinks.write.quarantine")
        for m in ("committed", "last_state", "last_batch_id"):
            tracer.wrap(pipe.manifest, m, "checkpoint.read")
        tracer.wrap(pipe.manifest, "commit", "checkpoint.commit")

    def operators(self, spark, collector) -> dict[str, float]:
        """One tick-sized batch through the chain, one step longer each
        time."""
        pipe = collector._instances[self.INSTANCE]
        n = int(DAEMON_RATE * 1.5)
        lines = [(gen.daemon_line(self.seed, s, 0),) for s in range(n)]
        steps = [spark.createDataFrame(lines, "value: string")]
        for _, stage in pipe.stages:
            steps.append(stage.apply(steps[-1]))
        times = [noop_s(df, reps=3) for df in steps]
        return marginals(["syslog", "kv", "cel"], times)


WORKLOADS = {w.name: w for w in (PagesAgg, FanoutBatch, DaemonTicks)}
SINK_NAMES = ("ok", "errors", "archive", "events", "quarantine")

PER_LAYER = {
    "session.start_s": "s",
    "session.bind_s": "s",
    "session.python_warm_s": "s",
    "sources.read_new_s": "s",
    "sources.lines": "count",
    "sources.lag_lines": "count",
    "extract.s": "s",
    "cel.s": "s",
    "json_mutate.s": "s",
    "enrich.s": "s",
    "aggregate.s": "s",
    "syslog.s": "s",
    "kv.s": "s",
    "router.split_s": "s",
    **{f"sinks.write_s.{n}": "s" for n in SINK_NAMES},
    **{f"sinks.rows.{n}": "count" for n in SINK_NAMES},
    "sinks.bytes": "bytes",
    "sinks.retries": "count",
    "checkpoint.read_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.calls": "count",
    "checkpoint.manifest_bytes": "bytes",
    "pipeline.run_batch_s": "s",
    "pipeline.self_s": "s",
    "pipeline.partition_skew": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "collector.tick_s": "s",
    "collector.self_s": "s",
    "trace.docs_per_s_ratio": "ratio",
    "trace.latency_p50_ratio": "ratio",
}


def per_layer(workload, spark, bound, run: Run, base: Run, tracer: Tracer, samples) -> dict:
    """Per-batch (per-tick) means over the traced phase; a layer that a
    workload does not run reads 0."""
    n = len(run.durations)
    v = dict.fromkeys(PER_LAYER, 0.0)
    for k, key in enumerate(("session.start_s", "session.bind_s", "session.python_warm_s")):
        v[key] = statistics.median(s[k] for s in samples)
    v["sources.read_new_s"] = tracer.total("sources.read_new") / n
    if run.lag_lines:
        v["sources.lines"] = statistics.mean(run.docs)
        v["sources.lag_lines"] = statistics.mean(run.lag_lines)
    v["router.split_s"] = tracer.total("router.split") / n
    for name in SINK_NAMES:
        v[f"sinks.write_s.{name}"] = tracer.total(f"sinks.write.{name}") / n
    v["sinks.bytes"] = statistics.mean(run.sink_bytes)
    for r in run.records:
        if not hasattr(r, "per_sink_counts"):
            continue  # pages_agg collects rows, it writes no sink
        for name, rows in r.per_sink_counts.items():
            v[f"sinks.rows.{'quarantine' if name == QUARANTINE else name}"] += rows / n
        v["sinks.retries"] += sum(r.per_sink_retry_counts.values()) / n
        parts = list(r.partition_counts.values())
        if parts and sum(parts):
            v["pipeline.partition_skew"] += max(parts) / statistics.mean(parts) / n
    v["checkpoint.read_s"] = tracer.total("checkpoint.read") / n
    v["checkpoint.commit_s"] = tracer.total("checkpoint.commit") / n
    v["checkpoint.calls"] = len(tracer.named("checkpoint.")) / n
    manifest = getattr(workload, "manifest_path", None)
    if manifest is not None:
        v["checkpoint.manifest_bytes"] = os.path.getsize(manifest)
    batches = tracer.named("pipeline.run_batch")
    v["pipeline.run_batch_s"] = sum(s.dur for s in batches) / n
    v["pipeline.self_s"] = sum(s.self_s for s in batches) / n
    ticks = tracer.named("collector.tick")
    v["collector.tick_s"] = sum(s.dur for s in ticks) / n
    v["collector.self_s"] = sum(s.self_s for s in ticks) / n
    counts = [job_counts(spark, g) for g in run.groups]
    for k, key in enumerate(("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed")):
        v[key] = sum(c[k] for c in counts) / n
    traced, untraced = run.end_to_end(), base.end_to_end()
    v["trace.docs_per_s_ratio"] = traced["docs_per_s"] / untraced["docs_per_s"]
    v["trace.latency_p50_ratio"] = traced["latency_p50_s"] / untraced["latency_p50_s"]
    v.update(workload.operators(spark, bound))
    return v


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import collector_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    st = State(os.path.join(ROOT, ".perfbench_state"))
    configure_env(st)
    workload = WORKLOADS[args.workload]()
    os.sched_setaffinity(0, workload.cpus)  # the JVM and Python workers inherit it
    workload.prepare(st, args.seed)
    log("inputs generated")
    spark, bound, samples = setup(workload, st)
    log(f"setup {samples}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warm_batches = workload.warm(spark, bound)
        log(f"warm: {warm_batches} batches")
        if args.trace:
            half = args.seconds / 2
            base = workload.measure(spark, bound, half, None)
            tracer = Tracer()
            workload.trace(tracer, bound)
            run = workload.measure(spark, bound, half, tracer)
            tracer.unwrap_all()
            spark.sparkContext.setJobGroup("perfbench-operators", "operators")
            values = per_layer(workload, spark, bound, run, base, tracer, samples)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
            spans_ok = tracer.nesting_ok()
            attempted, failed = base.attempted + run.attempted, base.failed + run.failed
        else:
            run = workload.measure(spark, bound, args.seconds, None)
            values = run.end_to_end()
            values["setup_s"] = statistics.median(sum(s) for s in samples)
            values["peak_rss_mb"] = peak_rss_mb(spark)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            spans_ok = True
            attempted, failed = run.attempted, run.failed
        log(f"measured: {run.durations}")
        correct = workload.check_outputs(spark, bound) and spans_ok and failed == 0
        log(f"checked: correct={correct}")
    finally:
        shutdown(spark)
    result = {
        "correct": bool(correct),
        "attempted": attempted + warm_batches,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
