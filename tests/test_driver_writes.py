"""A small batch whose every sink takes driver rows is written by the
driver (``FileSink.write_rows``, ``ParquetSink.write_rows``) from one
``toArrow()``; any other batch by Spark's writers. The two writers agree
on what a reader sees: ``spark.read.text`` / ``spark.read.parquet``
rows and schema, and the sink's written/empty counts."""

import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from collector_spark.pipeline import Pipeline, PipelineConfig, SinkSpec
from collector_spark.sources.sources import lines_frame

TEXT_CASES = {
    "embedded_newline": ["a\nb", "c\r\nd", "e"],
    "non_bmp": ["\U0001F600 grin", "\U0001D11E", "ascii"],
    # Java's \s class: each of these lines is empty, and not written
    "blank": ["\t", "\r", "\x0b", "\x0c", " \t\r\x0b\x0c ", "", None, "kept"],
    # U+00A0 is not in Java's \s, so these lines are not empty
    "nbsp": ["\u00a0", "a\u00a0", "\u00a0b"],
    "empty_batch": [],
}


def _batch(spark, lines, driver: bool):
    """A LocalRelation of ``lines`` (the driver writes it), or the same
    relation behind a no-op filter (not a LocalRelation: Spark writes)."""
    df = lines_frame(spark, lines)
    return df if driver else df.filter(F.lit(True))


def _checksums(batch) -> bool:
    """Whether ``batch`` holds hidden files: Spark's writer leaves a
    checksum file per file, the driver's writer none."""
    return any(n.startswith(".") for n in os.listdir(batch))


def _texts(spark, path) -> Counter:
    return Counter(r.value for r in spark.read.text(str(path)).collect())


@pytest.mark.parametrize("gzip", [False, True], ids=["plain", "gzip"])
@pytest.mark.parametrize("case", sorted(TEXT_CASES))
def test_driver_text_matches_spark_text_writer(spark, tmp_path, case, gzip):
    lines = TEXT_CASES[case]
    got = {}
    for writer in ("driver", "spark"):
        pipe = Pipeline(
            PipelineConfig(
                instance_id=f"text_{writer}",
                sinks=[SinkSpec("out", "file", None, {"path": str(tmp_path / writer), "gzip": gzip})],
            )
        )
        assert pipe.sinks["out"].takes_rows
        record = pipe.run_batch(_batch(spark, lines, writer == "driver"), batch_id=0)
        batch = tmp_path / writer / "batch_id=0"
        got[writer] = (
            record.per_sink_counts,
            record.per_sink_empty_counts,
            pipe.sinks["out"].last_metrics,
            _texts(spark, batch),
        )
        parts = [n for n in os.listdir(batch) if n.startswith("part-")]
        suffix = r"\.txt\.gz" if gzip else r"\.txt"
        assert parts and all(re.fullmatch(r"part-\d{5}-[0-9a-f-]{36}-c000" + suffix, n) for n in parts)
        assert "_SUCCESS" in os.listdir(batch)
        assert _checksums(batch) == (writer == "spark")
        if writer == "driver":
            assert len(parts) == 1
    assert got["driver"] == got["spark"]
    written = [v for v in lines if v is not None and v.strip(" \t\n\r\x0b\x0c")]
    assert got["driver"][0] == {"out": len(written)}
    if case == "nbsp":
        assert len(written) == 3
    assert got["driver"][2] == {"written": len(written), "empty": len(lines) - len(written)}


@pytest.mark.parametrize(
    "stage",
    [{"kind": "kv", "type": "raw"}, {"kind": "kv", "type": "cef"}],
    ids=["kv_map", "cef_struct"],
)
def test_driver_parquet_matches_spark_over_non_string_columns(spark, tmp_path, stage):
    """A routed parquet sink whose view carries the kv stage's ``parsed``
    map or struct: both writers give the same schema and rows."""
    lines = [
        "code=200 level=info",
        "CEF:0|vendor|prod|1.0|100|name|5|src=10.0.0.1 msg=hi",
        "not kv at all",
        "a=1 b=2 c=3",
    ]
    read = {}
    for writer in ("driver", "spark"):
        pipe = Pipeline(
            PipelineConfig(
                instance_id=f"parquet_{writer}",
                processors=[stage],
                sinks=[SinkSpec("out", "parquet", None, {"path": str(tmp_path / writer)})],
            )
        )
        record = pipe.run_batch(_batch(spark, lines, writer == "driver"), batch_id=0)
        batch = tmp_path / writer / "batch_id=0"
        assert _checksums(batch) == (writer == "spark")
        df = spark.read.parquet(str(batch))
        rows = Counter(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())
        read[writer] = (record.per_sink_counts, record.per_stage_counts, df.schema, rows)
    assert read["driver"] == read["spark"]
    assert "parsed" in read["driver"][2].names and read["driver"][0]["out"] > 0
