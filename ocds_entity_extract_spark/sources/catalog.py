"""Thin table-catalog interface: Iceberg semantics, parquet fallback.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the catalog keeps `writeTo(...).append()`-shaped semantics over
partitioned parquet and documents the one-line swap (SURVEY.md §7.3):
with `spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog`
configured, `Catalog(spark, root, fmt="iceberg")` routes every call through
`DataFrameWriterV2` unchanged.

HONESTY LEDGER — which emulation pieces the real Iceberg replaces
outright (they lean on the parquet DIRECTORY layout and exist only
because plain parquet has no table metadata or snapshots):

- `overwrite_partitions` (partitionOverwriteMode=dynamic)
  -> `writeTo(t).overwritePartitions()` — same semantics, transactional.
- `exists` (directory probe) -> catalog metadata lookup.

Not emulated, because no program calls them: `MERGE INTO` upserts and
`CALL system.rewrite_data_files` compaction. Over plain parquet both need
a read-back, a latest-wins rewrite, directory deletes for drained
partitions and a checkpoint standing in for snapshot isolation; Iceberg
does each in one transactional statement.

What does NOT change with the swap: every plan in plans/ and operators/
(they only consume DataFrames), the lineage/metrics rows, the content-hash
ids, and the incremental-resume logic in streaming/incremental.py (its
anti-join resume is layout-independent; only its writes get transactional
for free).

Sink semantics mapped from the reference:
- `replace_table`  ≙ drop-and-recreate sink prep (reference index.js:63-73)
- `append`         ≙ ordered bulkWrite append (reference insert.js:3-45)
- partitioned layout ≙ the per-entity-type collections / [SPLIT] stream
  groups (reference insert.js:4-20, stream.js:6-19): partitionBy(pred)
  gives one directory per predicate, bucket(subj) co-locates subjects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet") -> None:
        self.spark = spark
        self.root = root
        self.fmt = fmt

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def replace_table(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> None:
        """REPLACE TABLE semantics (full overwrite)."""
        w = df.write.mode("overwrite").format(self.fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.path(table))

    def append(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").format(self.fmt).save(self.path(table))

    def overwrite_partitions(
        self, table: str, df: DataFrame, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite — the idempotent-resume write mode
        (re-running a partition replaces it instead of duplicating)."""
        (
            df.write.mode("overwrite")
            .format(self.fmt)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .save(self.path(table))
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self.path(table))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.exists(p) and bool(os.listdir(p))
