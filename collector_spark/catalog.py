"""Table catalog — Iceberg when a runtime catalog is configured, plain
parquet directories otherwise (no Iceberg jar offline; same logical
schema either way, per SURVEY.md §7).

The swap point is deliberately tiny: ``read_table`` / ``append`` /
``overwrite_partition``. On a real cluster add

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hadoop|rest

and the same calls route through ``spark.table('lake.db.t')`` /
``writeTo(...).append()``, giving snapshot isolation + incremental scans
(which replace the manifest-file checkpointing for sources).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession, name: str) -> bool:
    return "." in name and spark.conf.get(
        f"spark.sql.catalog.{name.split('.')[0]}", None
    ) is not None


class Catalog:
    """name → path mapping for the parquet fallback; Iceberg names are
    catalog-qualified (``lake.db.pages``)."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root or os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse")

    def _path(self, name: str) -> str:
        return os.path.join(self.root, *name.split("."))

    def read_table(self, name: str) -> DataFrame:
        if _iceberg_available(self.spark, name):
            return self.spark.table(name)
        path = self._path(name)
        self._recover_compaction(path)
        return self.spark.read.parquet(path)

    @staticmethod
    def _recover_compaction(path: str) -> None:
        """Heal a crash inside compact()'s two-rename publish window: if
        the table path is missing but the ``.compact_old`` backup exists,
        the crash happened between the renames — restore the backup so
        the old table stays readable (the compacted copy in
        ``.compact_tmp``, if complete, is re-derivable and is swept by
        the next compact()).

        A reader can race a live compact(): if the writer publishes
        ``path`` between the existence check and the rename, the rename
        fails, and the table is whole again — a lost race counts as
        healed instead of failing a pure read."""
        backup = path + ".compact_old"
        if not os.path.exists(path) and os.path.exists(backup):
            try:
                os.rename(backup, path)
            except OSError:
                if not os.path.exists(path):
                    raise

    def append(self, df: DataFrame, name: str) -> None:
        if _iceberg_available(self.spark, name):
            df.writeTo(name).append()
            return
        df.write.mode("append").parquet(self._path(name))

    def overwrite_partition(self, df: DataFrame, name: str, partition_col: str) -> None:
        """Dynamic partition overwrite — the idempotent-replay write mode
        (same observable result as an Iceberg REPLACE snapshot)."""
        if _iceberg_available(self.spark, name):
            df.writeTo(name).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(self._path(name))
        )

    def write_bucketed(
        self, df: DataFrame, name: str, bucket_cols: list[str], buckets: int = 64
    ) -> None:
        """Bucketed table write: pre-shuffles ONCE at write time so every
        later join/agg on the bucket key is exchange-free (co-located) —
        the big repeated-join lever at 100 TB. With an Iceberg catalog
        this is the bucket(N, col) partition transform (storage-
        partitioned joins); the builtin catalog uses bucketBy +
        saveAsTable."""
        if _iceberg_available(self.spark, name):
            from pyspark.sql.functions import bucket, col

            # one bucket transform per key column — dropping columns
            # 2..n would silently lose co-location for multi-column keys
            # (extra exchanges on every downstream join)
            transforms = [bucket(buckets, col(c)) for c in bucket_cols]
            (
                df.writeTo(name)
                .partitionedBy(*transforms)
                .createOrReplace()
            )
            return
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", self._path(name))
            .saveAsTable(self._session_name(name))
        )

    def read_bucketed(self, name: str) -> DataFrame:
        if _iceberg_available(self.spark, name):
            return self.spark.table(name)
        return self.spark.table(self._session_name(name))

    def compact(
        self, name: str, target_file_mb: int = 256, partition_col: str | None = None
    ) -> dict:
        """Small-files compaction — the operational follow-up every
        append sink needs at scale (each batch leaves files; a 100 TB
        table accumulates millions, and scan planning degrades with
        file COUNT, not bytes). Rewrites the
        table into ~``target_file_mb`` files; with ``partition_col``
        the rewrite repartitions BY that column so compaction also
        restores partition clustering. With an Iceberg catalog this is
        rewrite_data_files; the parquet fallback is
        read → repartition → swap.

        The parquet swap is two sequential renames, NOT atomic: a crash
        between them leaves the table path momentarily absent. That
        window is healed by ``_recover_compaction`` (called here and on
        every ``read_table``), which renames the ``.compact_old`` backup
        back into place — so a crash never LOSES the table, it only
        rolls the compaction back. The fallback assumes a single writer:
        rows appended concurrently with the rewrite are not in the
        snapshot being compacted and are dropped by the swap (use the
        Iceberg path when concurrent appenders exist — its REPLACE
        snapshot is serialized against appends). files/rows stats are
        of the compacted snapshot, not of any concurrent appends.

        Returns {"files_before", "files_after", "rows"}.
        """
        import glob
        import shutil

        if _iceberg_available(self.spark, name):
            cat = name.split(".")[0]
            self.spark.sql(
                f"CALL {cat}.system.rewrite_data_files(table => '{name[len(cat) + 1:]}', "
                f"options => map('target-file-size-bytes', '{target_file_mb * 1024 * 1024}'))"
            )
            return {"files_before": -1, "files_after": -1, "rows": -1}
        path = self._path(name)
        tmp = path + ".compact_tmp"
        backup = path + ".compact_old"
        # heal a prior crash, then sweep its leftovers so the renames
        # below cannot collide with stale dirs
        self._recover_compaction(path)
        for stale in (tmp, backup):
            if os.path.exists(stale):
                shutil.rmtree(stale)

        def n_files() -> int:
            return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))

        before = n_files()
        df = self.spark.read.parquet(path)
        rows = df.count()
        total_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        n_out = max(1, total_bytes // (target_file_mb * 1024 * 1024))
        out = (
            df.repartition(int(n_out), partition_col)
            if partition_col
            else df.repartition(int(n_out))
        )
        # write-to-temp + swap: a crash mid-compaction must never lose
        # the table (same publish discipline as the GCS composite sink);
        # the rename-pair window is recoverable — see docstring
        writer = out.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(tmp)
        os.rename(path, backup)
        os.rename(tmp, path)
        shutil.rmtree(backup)
        return {"files_before": before, "files_after": n_files(), "rows": rows}

    @staticmethod
    def _session_name(name: str) -> str:
        # session-catalog identifier for a dotted logical name; '__'
        # separator so 'a.b' and 'a_b' cannot collide
        return name.replace(".", "__")
