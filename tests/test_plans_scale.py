"""Scale-property assertions on physical plans: pushdown, pruning,
broadcast joins, no html read when not needed. These are the properties
that keep the job viable at 100 TB; they are tested, not assumed."""

import os

import pytest
from pyspark.sql import functions as F

from collector_spark import datagen
from collector_spark.operators.enrich import enrich_pages
from tests.plan_inspect import (
    executed_plan,
    has_broadcast_join,
    has_sort_merge_join,
    pushed_filters,
    scan_read_schema,
)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    datagen.write_pages(spark, path, 256)
    return path


def test_filter_pushdown_reaches_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en").select("url")
    pf = pushed_filters(df)
    assert any("lang" in f for f in pf), pf


def test_column_pruning_never_reads_html(spark, pages_path):
    df = (
        spark.read.parquet(pages_path)
        .filter(F.col("lang") == "en")
        .select("url", "warc_ts")
    )
    cols = scan_read_schema(df)
    assert "html" not in cols, cols
    assert "text" not in cols, cols


def test_enrichment_joins_are_broadcast_not_shuffle(spark, pages_path):
    pages = spark.read.parquet(pages_path).drop("html")
    enriched = enrich_pages(pages, datagen.lookup_dfs(spark))
    assert has_broadcast_join(enriched)
    assert not has_sort_merge_join(enriched)


def test_pages_job_plan_shape(spark, pages_path):
    """The north-star one-pass job: broadcast-only joins, exactly one
    exchange (the category groupBy), html+url only in the scan."""
    from collector_spark.plans.pages_job import build_pages_agg

    df = build_pages_agg(spark, spark.read.parquet(pages_path))
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one data exchange for the final groupBy (+ broadcast exchanges,
    # which are not shuffles)
    import re

    shuffles = [
        l for l in plan.splitlines() if re.search(r"\bExchange (hash|range|Single)", l)
    ]
    assert len(shuffles) <= 1, shuffles
    cols = scan_read_schema(df)
    assert set(cols) <= {"url", "html"}, cols
    # each line is parsed once per value version (extracted, then after
    # the json add), and no reader re-parses the text
    assert plan.count("get_json_object") == 0
    assert plan.count("jsonObjectKeys") == 0
    assert plan.count("parseJson") == 2
    # behind a Generate, never inside a Filter (no subexpression
    # elimination there: N reads would be N parses)
    assert not [l for l in plan.splitlines() if "Filter" in l and "parseJson" in l]
    # the lookup dims are Arrow local relations: no pickled PythonRDD, so
    # no Python worker in any job of the plan
    assert "Scan ExistingRDD" not in plan

    counts_ok = {r["category"]: r for r in df.collect()}
    # one JSON status line per page survives the startswith+CEL filters
    assert sum(r["all"] for r in counts_ok.values()) == 256


def test_route_agg_parses_each_line_once(spark, sf_dir):
    """Three json-mode route predicates over one line read one parse."""
    from __spark_entry__ import q_pipeline_parse_route_agg

    plan = executed_plan(q_pipeline_parse_route_agg(spark, sf_dir))
    assert plan.count("parseJson") == 1
    assert plan.count("get_json_object") == 0


def test_lsh_topk_plan_no_cartesian_and_keyed_joins(spark):
    """The wide-band LSH candidate join must be a keyed (band, bv) join —
    never a cartesian product — and the binary explode stays pre-join."""
    from collector_spark.operators.similarity import lsh_topk

    rows = [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = lsh_topk(df, df.limit(3), k=2, dim=4, bands=4, band_bits=8)
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bv" in plan  # joins keyed on band buckets


def test_multimodal_binary_never_shuffled(spark):
    """Media bytes are consumed in the scan-side mapInPandas; no Exchange
    carries the binary column (the 100 TB no-shuffle-binaries contract)."""
    from collector_spark.operators.multimodal import extract_media_features

    df = spark.createDataFrame(
        [(i, bytes([i] * 64)) for i in range(8)], "media_id long, data binary"
    )
    feats = extract_media_features(df)
    agg = feats.groupBy(F.col("meta.media_type")).count()
    plan = executed_plan(agg)
    # the only Exchange is the groupBy on extracted (small) columns —
    # 'data' must not appear in any shuffle
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "data" not in line, line


def test_minhash_signature_type_is_int(spark):
    """Signatures ship as array<int> (31-bit values) — the verify-join
    shuffle carries half the bytes of array<long>."""
    from collector_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    sigs = minhash_signatures(df, num_hashes=8)
    assert sigs.schema["signature"].dataType.simpleString() == "array<int>"


def test_connected_components_round_bound_and_lineage_cut(spark):
    """The iterative CC operator's scale contract (round-2 VERDICT #7):
    pointer jumping converges in O(log diameter) rounds — NOT the
    O(diameter) a plain-propagation regression would need — and each
    round runs in roughly constant time because lineage is CUT with
    localCheckpoint (with persist alone, Catalyst re-analysis of the
    growing plan was measured exponential: round 3 of this very chain
    took 36 s, round 4 never finished)."""
    import math
    import time

    from collector_spark.operators.dedup import connected_components
    from collector_spark.session import cache_scope

    # one long chain 0-1-2-...-63: diameter 63, worst case for CC
    d = 63
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(d)], ["id_a", "id_b"]
    )
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    stats: dict = {}
    t0 = time.perf_counter()
    with cache_scope():
        labels = connected_components(edges, stats_into=stats)
        got = {r.id: r.component for r in labels.collect()}
    elapsed = time.perf_counter() - t0
    assert got == {i: 0 for i in range(d + 1)}
    # init round gives min(id, neighbors); each loop round ~squares reach
    # (propagate + pointer jump) + one round to detect the fixpoint
    bound = math.ceil(math.log2(d)) + 2
    assert 1 <= stats["rounds"] <= bound, (stats, bound)
    # ~7 rounds of tiny joins: seconds with lineage cut, unboundable
    # without (generous ceiling absorbs slow host windows)
    assert elapsed < 120, elapsed
    # the scope freed the edge cache and every round's checkpoint
    assert jsc.getPersistentRDDs().size() == cached_before


def test_events_ts_filter_pushdown(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.filter(F.col("event_type") == "click").select("event_id")
    pf = pushed_filters(df)
    assert any("event_type" in f for f in pf), pf
    cols = scan_read_schema(df)
    assert "props" not in cols, cols


def test_top_revenue_orders_plan_shape(spark):
    """Q3 shape: the filtered customer dim must broadcast (it is the
    small side at every sf) and the segment/date filters must reach the
    parquet scans — the properties that keep it one shuffle at 100 TB."""
    from __spark_entry__ import q_top_revenue_orders

    df = q_top_revenue_orders(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    pf = pushed_filters(df)
    assert any("c_mktsegment" in f for f in pf), pf
    assert any("l_shipdate" in f for f in pf), pf


def test_small_qty_revenue_single_key_shuffle(spark):
    """Q17 decorrelation: lineitem and its per-part aggregate join on
    l_partkey — the scan must prune to the 3 needed columns so the
    shuffle carries no dead weight."""
    from __spark_entry__ import q_small_qty_revenue

    df = q_small_qty_revenue(spark, "/root/testdata/sf0.001")
    cols = scan_read_schema(df)
    assert set(cols) <= {"l_partkey", "l_quantity", "l_extendedprice"}, cols


def test_span_removal_plan_no_cartesian_and_pruned_scan(spark):
    """Exact-substring span removal: every join keys on the gram hash or
    (id, token-idx) — nothing all-pairs — and the documents scan prunes
    to (doc_id, text). The persisted grams table means the gram md5 is
    computed once, not re-derived per consumer."""
    from __spark_entry__ import q_dedup_span_removal

    df = q_dedup_span_removal(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # grams persisted, not recomputed
    cols = scan_read_schema(df)
    assert set(cols) <= {"doc_id", "text"}, cols


def test_curation_prefix_sums_are_two_phase(spark):
    """token_budget_select / deterministic_shuffle: the full-row window
    must be partitioned (by the bucket key), and the only
    single-partition exchange is the tiny per-bucket offset window —
    never the row stream (the pack_sequences distributed-scan contract)."""
    from collector_spark.operators.curation import (
        deterministic_shuffle,
        token_budget_select,
    )

    rows = [(i, " ".join("w" for _ in range(1 + i % 7))) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    score = F.round((F.col("doc_id") % 10) / 10.0, 4)
    for out in (token_budget_select(df, 60, score), deterministic_shuffle(df, "s")):
        plan = executed_plan(out)
        singles = [l for l in plan.splitlines() if "Exchange SinglePartition" in l]
        assert len(singles) == 1, singles
        # the per-row window is bucket-partitioned: spec ends with
        # "], [_b...], [<ordering>]" (partition spec present)
        partitioned = [
            l
            for l in plan.splitlines()
            if "windowspecdefinition(_b" in l and "], [_b" in l
        ]
        assert partitioned, plan


def test_unigram_logprob_no_cartesian_totals_broadcast(spark):
    """The (T, V) scalars ride a 1-row broadcast; the token join is a
    keyed hash join — no cartesian product anywhere."""
    from collector_spark.operators.curation import unigram_logprob

    df = spark.createDataFrame(
        [(i, "a b c d" if i % 2 else "a a b") for i in range(20)],
        "doc_id long, text string",
    )
    plan = executed_plan(unigram_logprob(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_returned_item_customers_aggregates_before_wide_join(spark):
    """Q10 shape: the revenue aggregate must collapse lineitem⋈orders
    BEFORE the wide customer row attaches (aggregate-then-join), nation
    must broadcast, and the return-flag/date filters must reach the
    scans — the properties that keep the big shuffle narrow at 100 TB."""
    from __spark_entry__ import q_returned_item_customers

    df = q_returned_item_customers(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    pf = pushed_filters(df)
    assert any("l_returnflag" in f for f in pf), pf
    assert any("o_orderdate" in f for f in pf), pf
    # aggregate-then-join: the customer join sits ABOVE the aggregate in
    # the tree, so in the top-down plan text the first join appears
    # before (at shallower depth than) the revenue HashAggregate pair
    agg_pos = plan.index("HashAggregate")
    assert "Join" in plan[:agg_pos] or "SortMergeJoin" in plan, plan[:400]


def test_large_volume_customers_having_first(spark):
    """Q18 shape: the lineitem scan prunes to (l_orderkey, l_quantity)
    — the HAVING aggregate runs on two columns, never the wide row."""
    from __spark_entry__ import q_large_volume_customers

    df = q_large_volume_customers(spark, "/root/testdata/sf0.001")
    li_cols = [
        c
        for c in scan_read_schema(df)
        if c.startswith("l_")
    ]
    assert set(li_cols) <= {"l_orderkey", "l_quantity"}, li_cols


def test_rolling_window_input_is_daily_aggregate(spark):
    """rolling_7day_revenue: the global-orderBy window is legal ONLY
    because its input is the one-row-per-day aggregate — assert the
    window sits above a HashAggregate (never the raw orders table)."""
    from __spark_entry__ import q_rolling_7day_revenue

    df = q_rolling_7day_revenue(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "window must consume the daily aggregate, not raw orders"
    )


def test_grok_extract_stays_jvm_side(spark):
    """grok extraction is pure Catalyst: no Python evaluation operator
    may appear in the plan (the single-regex-pass claim lives in
    codegen CSE; the no-Python property is what the plan can pin)."""
    from collector_spark.operators.grok import grok_extract

    df = spark.createDataFrame([("a 1",), ("b 2",)], ["value"])
    out = grok_extract(df, "%{WORD:w} %{INT:n}")
    plan = executed_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in plan


def test_encode_tokens_vocab_broadcasts(spark):
    """encode_tokens: the vocabulary side of the token join must
    broadcast — encoding is a map-only stage over the exploded corpus,
    with no shuffle of the (huge) token table."""
    from collector_spark.operators.corpus import encode_tokens

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a d")], "doc_id long, text string"
    )
    out = encode_tokens(df, vocab_size=3)
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_per_step_aggregation_shape(spark):
    """funnel_counts: each step is a map-side-combined (user, min ts)
    aggregation joined on the user key — partial aggregates must appear
    before every exchange feeding a step agg, and the event scan must
    never shuffle raw event rows unaggregated into a window (no Window
    operator at all)."""
    from collector_spark.operators.funnel import funnel_counts

    rows = [(u, f"2024-01-0{1 + (u + s) % 5}", t)
            for u in range(20) for s, t in enumerate(["signup", "activate", "purchase"])]
    df = spark.createDataFrame(rows, ["user_id", "d", "event_type"]).select(
        "user_id", F.to_timestamp("d").alias("ts"), "event_type"
    )
    out = funnel_counts(df, ["signup", "activate", "purchase"])
    plan = executed_plan(out)
    assert "Window" not in plan, plan
    # every step groupBy is hash-partitioned on the user key with a
    # partial_min before the exchange (map-side combine)
    assert "partial_min" in plan, plan
    assert plan.count("partial_min") >= 2, plan  # steps 1..n-1 + step joins
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_retention_single_user_key_join(spark):
    """retention_cohorts: ONE user-keyed join (activity x first-period),
    distinct + min both map-side combined, no window over the raw
    stream, no cartesian."""
    from collector_spark.operators.funnel import retention_cohorts

    rows = [(u % 7, f"2024-01-{1 + (u % 21):02d}") for u in range(100)]
    df = spark.createDataFrame(rows, ["user_id", "d"]).select(
        "user_id", F.to_timestamp("d").alias("ts")
    )
    out = retention_cohorts(df)
    plan = executed_plan(out)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # exactly one join, keyed on the user column
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, plan
    # the per-user first-period agg combines map-side
    assert "partial_min" in plan, plan
