#!/usr/bin/env python
"""spark-submit entrypoint.

Cluster usage (north rule: spark-submit --py-files, N and 4N executors):

    python submit.py --package                 # build dist/collector_spark.zip
    spark-submit --py-files dist/collector_spark.zip \
        --num-executors 64 --executor-cores 4 --executor-memory 8g \
        submit.py --config-dir confs/ --state-dir state/ \
        --input /data/pages --batch-id 42

Local sandbox equivalent: python submit.py --config-dir ... (uses
local[*]). The job itself is identical; only the master changes.
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_zip(out: str = "dist/collector_spark.zip") -> str:
    os.makedirs(os.path.dirname(out), exist_ok=True)
    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "collector_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return out


def version_info(machine: bool = False) -> str:
    """Version + environment info (the reference's `collector version`,
    cmd/version.go:13-28; -m/--machine mirrors its JSON mode,
    version.go:38-51)."""
    import json
    import platform
    import subprocess

    import pyspark

    import collector_spark

    root = os.path.dirname(os.path.abspath(__file__))

    def _git(*args: str) -> str:
        try:
            return subprocess.run(
                ["git", *args], cwd=root, capture_output=True, text=True, timeout=5
            ).stdout.strip() or "unknown"
        except Exception:
            return "unknown"

    info = {
        "version": collector_spark.__version__,
        "branch": _git("rev-parse", "--abbrev-ref", "HEAD"),
        "commit": _git("rev-parse", "--short", "HEAD"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }
    if machine:
        return json.dumps(info)
    lines = [f"collector_spark - version {info['version']}"]
    lines += [f"  {k}: {v}" for k, v in info.items() if k != "version"]
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--version", "-V", action="store_true",
        help="print version and environment info (cmd/version.go)",
    )
    ap.add_argument(
        "--machine", "-m", action="store_true",
        help="with --version: machine-readable JSON (version.go:38-51)",
    )
    ap.add_argument("--package", action="store_true", help="build the --py-files zip and exit")
    ap.add_argument("--config-dir", help="directory of .conf instance files")
    ap.add_argument("--state-dir", default="state")
    ap.add_argument("--input", help="pages/lines parquet path")
    ap.add_argument("--input-kind", default="pages", choices=["pages", "lines"])
    ap.add_argument("--batch-id", type=int, default=0)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--ticks", type=int, default=1,
        help="daemon ticks per source-configured instance (0 = run until "
             "interrupted — the reference's `collector start` loop)",
    )
    ap.add_argument(
        "--interval", type=float, default=0.0,
        help="seconds to sleep between ticks (reference schedule/flush_frequency)",
    )
    ap.add_argument(
        "--on-error", default="drop", choices=["drop", "raise"],
        help="daemon error policy: 'drop' records a failing instance's "
             "tick, whether its source or its batch failed, and the other "
             "instances still tick (the reference's manager.go:166-169 "
             "behavior); 'raise' aborts the loop",
    )
    args = ap.parse_args()

    if args.version:
        print(version_info(machine=args.machine))
        return

    if args.package:
        print(build_zip())
        return

    if not args.config_dir:
        ap.error("--config-dir is required (or use --package)")

    from pyspark.sql import functions as F

    from collector_spark.operators.extract import HtmlExtractor
    from collector_spark.pipeline import load_instances
    from collector_spark.session import get_spark

    spark = get_spark(app_name="collector_spark_submit", master=args.master)
    instances = load_instances(args.config_dir, state_dir=args.state_dir)
    df = None
    if args.input:
        df = spark.read.parquet(args.input)
        if args.input_kind == "pages":
            df = HtmlExtractor().log_lines(df).select("value")
    import itertools
    import time

    if args.ticks == 0 and not any(p.source is not None for p in instances.values()):
        ap.error(
            "--ticks 0 needs at least one instance with an 'input' block "
            "(df-driven instances run their batch once)"
        )
    ticks = itertools.count() if args.ticks == 0 else range(max(args.ticks, 1))
    for tick in ticks:
        for iid, pipe in instances.items():
            if pipe.source is not None:
                # instance carries its own input block → full daemon tick,
                # isolated by run_tick under --on-error drop
                record = pipe.run_tick(spark, on_error=args.on_error)
            elif df is not None:
                if tick > 0:
                    continue  # caller-supplied batch runs once
                record = pipe.run_batch(
                    df, batch_id=args.batch_id, on_error=args.on_error
                )
            else:
                ap.error(f"instance {iid} has no input block; pass --input")
            status = " FAILED" if record.failed else ""
            print(f"{iid}: batch={record.batch_id}{status} "
                  f"sinks={record.per_sink_counts} "
                  f"stages={record.per_stage_counts}")
        if args.interval and (args.ticks == 0 or tick < args.ticks - 1):
            time.sleep(args.interval)


if __name__ == "__main__":
    main()
