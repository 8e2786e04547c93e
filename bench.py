#!/usr/bin/env python
"""Bench harness — headline queries + the north-star pages pipeline.

Usage:  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...extras}

The pages pipeline (parse → enrich → route → aggregate over the
synthetic Common-Crawl-style table, BASELINE.json north_rule) is benched
as ``pages_pipeline``; its docs/sec appears in extras. The pages table is
generated once per (sf, seed) and cached as parquet in /tmp so generation
cost never pollutes the measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42

# pages-table size scales with sf (sf0.1 → 40k pages, 3 log lines each);
# SPARK_GRAFT_PAGES_N overrides (bench_scaling uses a larger table so the
# parallel region dominates fixed job overhead)
_SF_FROM_DIR = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_PAGES = int(
    os.environ.get("SPARK_GRAFT_PAGES_N", max(int(400_000 * _SF_FROM_DIR), 200))
)

BENCH_QUERIES = [
    "pipeline_parse_route_agg",
    "cel_filter_accept",
    "cel_filter_time",
    "json_mutate",
    "syslog_strip",
    "kv_roundtrip",
    "cef_roundtrip",
    "enrich_broadcast_agg",
    "agg_pricing_summary",
    "window_top_orders",
    "event_window_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "token_count_agg",
    "quality_score",
    "lang_id",
    "asof_join",
    "sessionize",
    "dedup_ngram_jaccard",
    "join_shuffle_agg",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "dedup_connected_components",
    "embedding_near_dup",
    "doc_length_quantiles",
    "pivot_event_counts",
    "cube_counts",
    "running_total",
    "multimodal_features",
    "top_revenue_orders",
    "late_shipment_priority",
    "small_qty_revenue",
    "contamination_check",
    "dup_span_profile",
    "dedup_span_removal",
    "salient_terms",
    "vocab_topk",
    "unigram_logprob",
    "token_budget_select",
    "corpus_shuffle_order",
    "order_count_histogram",
    # round-4 additions
    "grok_access_log",
    "csv_roundtrip",
    "multiline_merge",
    "pseudonymize_users",
    "encode_tokens",
    "cel_filter_conv",
    "cel_filter_struct_macro",
    "returned_item_customers",
    "large_volume_customers",
    "rolling_7day_revenue",
    "profile_columns",
    "funnel_conversion",
    "retention_cohorts",
    "bigram_logprob",
    "event_rate_anomaly",
    "bloom_contamination",
]


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


#: DRAM-bandwidth calibration (round-4 VERDICT #4): the CPU calibration
#: job is register/L1-resident, so it measures only the frequency
#: ceiling; Arrow-transfer workloads (pages_extract_udf, the kv/cef
#: pandas paths) are memory-BUS-bound and a CPU-only normalization
#: over-corrects them in bus-contended windows. Fixed total traffic:
#: _BW_COPIES copies of a _BW_BUF_MB MB buffer (read+write) split over
#: CPUS processes — same probe as bench_scaling.bandwidth_control.
_BW_BUF_MB = 64
_BW_COPIES = 240


def _bw_copy_work(reps: int) -> int:
    import numpy as np

    src = np.ones(_BW_BUF_MB * 1024 * 1024 // 8, dtype=np.float64)
    dst = np.empty_like(src)
    for _ in range(reps):
        np.copyto(dst, src)
    return 1


def _bw_calibrate() -> float:
    from concurrent.futures import ProcessPoolExecutor

    per = max(1, _BW_COPIES // CPUS)
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        with ProcessPoolExecutor(CPUS) as ex:
            list(ex.map(_bw_copy_work, [per] * CPUS))
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def _calibrate(spark) -> float:
    # tiny warm pass: first use of this expression pays whole-stage
    # codegen + JIT (~2x on the timed rep otherwise); we want host state
    spark.range(1_000_000, numPartitions=CPUS).select(
        F.xxhash64("id").alias("h")
    ).agg(F.sum(F.col("h").cast("decimal(38,0)"))).collect()
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(CALIBRATION_ROWS, numPartitions=CPUS).select(
            F.xxhash64("id").alias("h")
        ).agg(F.sum(F.col("h").cast("decimal(38,0)"))).collect()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def _pages_path() -> str:
    return f"/tmp/spark_graft_pages_n{N_PAGES}_s{SEED}.parquet"


def ensure_pages(spark) -> str:
    path = _pages_path()
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from collector_spark.datagen import write_pages

        write_pages(spark, path, N_PAGES, seed=SEED)
    return path


def run_pages_pipeline(spark, pages_path: str) -> dict:
    """The north-star job: scan pages → native extract of embedded log
    lines → CEL filter → JSON mutate → broadcast enrich → route →
    aggregate, as ONE pass (collector_spark/plans/pages_job.py — also
    plan-asserted in tests/test_plans_scale.py). Multi-sink WRITES use
    the persisted fan-out in Pipeline.run_batch instead, exercised by
    the e2e tests and the verify drive."""
    from collector_spark.plans.pages_job import run_pages_pipeline as _run

    return _run(spark, pages_path, seed=SEED)


def main() -> None:
    from collector_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="collector_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 2, 16),
    )

    queries = entry_mod.queries()
    timings: dict[str, float] = {}

    # warm the JVM and the Python-worker pool once (daemon fork + pandas/
    # pyarrow imports otherwise land on the first measured query)
    spark.range(1000).agg(F.sum("id")).collect()
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s):
        return s

    spark.range(100000, numPartitions=CPUS).select(_warm("id").alias("x")).agg(
        F.sum("x")
    ).collect()

    pages_path = ensure_pages(spark)

    calibration_pre = _calibrate(spark)
    bus_pre = _bw_calibrate()

    # pages pipeline + its Arrow alternate run FIRST, right after the
    # warmup — not after the 61-query sweep. Measured A/B
    # (BENCH/ab_extract_r5.json): the same extract that took 1.9-3.1 s
    # at the end of the sweep runs in 0.67 s in a fresh session with
    # identical code and data, and its time tracks the DRAM-bus probe,
    # not the CPU probe. End-of-sweep Python-daemon state plus bus
    # contention is measurement noise, not extract cost; fixed position
    # makes rounds comparable (round-4 VERDICT #4).
    pages_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        result = run_pages_pipeline(spark, pages_path)
        dt = time.perf_counter() - t0
        pages_sec = dt if pages_sec is None or dt < pages_sec else pages_sec
    timings["pages_pipeline"] = round(pages_sec, 3)

    from collector_spark.operators.extract import HtmlExtractor as _HX

    udf_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        _HX(engine="pandas").log_lines(spark.read.parquet(pages_path)).count()
        dt = time.perf_counter() - t0
        udf_sec = dt if udf_sec is None or dt < udf_sec else udf_sec
    timings["pages_extract_udf"] = round(udf_sec, 3)

    # best-of-2 per query: this host exhibits multi-x wall-clock noise
    # spikes; min is the honest steady-state.
    # Materialize via the noop writer, NOT .count(): count() lets
    # Catalyst prune every unreferenced output expression (an
    # aggregate-only query would time as a bare distinct), while noop
    # computes every output column with zero sink cost.
    for name in BENCH_QUERIES:
        fn = queries[name]
        reps = 2
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        # operators that persist internals (minhash/ngram/conn-components)
        # must not let those caches skew later queries
        spark.catalog.clearCache()

    # pages_extract_udf is the Arrow alternate of the native extract the
    # pages pipeline already times — a redundancy, so its own bucket
    alternates = {"pages_extract_udf"}
    primary_total = round(
        sum(v for k, v in timings.items() if k not in alternates), 3
    )
    alternate_total = round(
        sum(v for k, v in timings.items() if k in alternates), 3
    )
    calibration_post = _calibrate(spark)
    bus_post = _bw_calibrate()

    out = {
        "metric": "e2e_parse_route_aggregate_total",
        # headline counts each operator ONCE (primary engine); the
        # deliberate alternate-engine redundancies are reported separately
        "value": primary_total,
        "unit": "sec",
        "queries": timings,
        "alternate_engine_queries": sorted(alternates),
        "alternate_engine_total": alternate_total,
        "sf": _SF_FROM_DIR,
        "pages_n": N_PAGES,
        "pages_docs_per_sec": round(N_PAGES / pages_sec, 1),
        "pages_sink_counts": result["sink_counts"],
        "cpus": CPUS,
        # best-of-2 seconds for the fixed CPU job, before/after the sweep;
        # smaller = faster host window (see comment on CALIBRATION_ROWS)
        "host_calibration": {
            "rows": CALIBRATION_ROWS,
            "pre_sec": calibration_pre,
            "post_sec": calibration_post,
        },
        # DRAM-bus window state (see _bw_calibrate): the honest
        # normalizer for Arrow-transfer/shuffle-bound queries, which a
        # CPU-only calibration over-corrects (round-4 VERDICT #4)
        "bus_calibration": {
            "buf_mb": _BW_BUF_MB,
            "copies": _BW_COPIES,
            "pre_sec": bus_pre,
            "post_sec": bus_post,
        },
    }
    # sf1 spot-bench (round-4 VERDICT #8): RECORDED artifact, not re-run
    # per bench invocation (the 10x corpus sweep is its own ~4-minute
    # job — tools/upsample_sf.py + tools/spot_bench_sf1.py to refresh).
    # Embedded verbatim with provenance so BENCH_r{N}.json carries the
    # linear-scaling evidence next to the sf0.1 numbers.
    sf1_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH", "spot_sf1_r5.json")
    if os.path.exists(sf1_path):
        with open(sf1_path) as f:
            out["sf1_spot"] = {
                "source": "BENCH/spot_sf1_r5.json (recorded round-5 run; "
                          "per_row_ratio = sf1_sec / (10 * sf01_sec), "
                          "linear == ~1.0, bar <= 1.5)",
                **json.load(f),
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
        out["value_normalized"] = round(primary_total * factor, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
