"""Multiline log merge: stack-trace folding semantics on planted
streams (the sf0.01 gate checks it against DuckDB on real tables)."""

from collector_spark.operators.multiline import merge_multiline


def _lines(spark):
    rows = [
        # stream A: orphan continuation, then two records
        ("a.log", 1, "  at orphan frame"),
        ("a.log", 2, "ERROR one"),
        ("a.log", 3, "  at x"),
        ("a.log", 4, "  at y"),
        ("a.log", 5, "ERROR two"),
        # stream B: single-line records only
        ("b.log", 1, "ERROR solo"),
        ("b.log", 2, "ERROR other"),
    ]
    return spark.createDataFrame(rows, "path string, line_no long, value string")


def test_merge_multiline_folds_continuations(spark):
    out = {
        (r.path, r.record_no): (r.start_line, r.record, r.n_lines)
        for r in merge_multiline(_lines(spark), r"^ERROR").collect()
    }
    assert out[("a.log", 0)] == (1, "  at orphan frame", 1)  # orphan record
    assert out[("a.log", 1)] == (2, "ERROR one\n  at x\n  at y", 3)
    assert out[("a.log", 2)] == (5, "ERROR two", 1)
    assert out[("b.log", 1)] == (1, "ERROR solo", 1)
    assert out[("b.log", 2)] == (2, "ERROR other", 1)


def test_merge_multiline_drop_orphans(spark):
    out = merge_multiline(_lines(spark), r"^ERROR", drop_orphans=True)
    recs = {(r.path, r.record_no) for r in out.collect()}
    assert ("a.log", 0) not in recs and len(recs) == 4


def test_merge_multiline_one_shuffle(spark):
    """Scale pin: the whole merge is ONE exchange (the stream-partition
    window and the (stream, record) groupBy share the partitioning)."""
    from tests.plan_inspect import executed_plan

    plan = executed_plan(merge_multiline(_lines(spark), r"^ERROR"))
    # exactly ONE Exchange: the (stream, record) groupBy piggybacks on
    # the window's hash(stream) partitioning (hash(stream) satisfies
    # ClusteredDistribution(stream, rec)) — verified, not assumed
    assert plan.count("Exchange") == 1, plan
