"""Blob + lineage-manifest store with checkpointed resume.

The reference's footer/ColumnIndex/OffsetIndex (SURVEY.md §2.4,
/root/reference/writer/ops.go:28-117) become a *manifest table*: one row per
(partition, column) chunk with codec, counts, sizes, min/max and CRC. The
blobs parquet directory is the committed source of truth (Spark's file
committer gives atomic job commit); the manifest is a column-pruned
projection of it, so "completed partitions" never disagrees with the data.
Readers use that live view; ``write_manifest_snapshot`` is an on-demand
export no writer calls, and fsck flags an export that has gone stale.

Iceberg note: the sandbox has no Iceberg runtime jar, so the store uses
parquet directories with Spark's atomic job commit as the documented
fallback (SURVEY.md §7.1 item 4). The API surface (append, completed set,
anti-join resume) is catalog-agnostic; swapping `.parquet(...)` for
`.writeTo("catalog.db.blobs").append()` is the only change an Iceberg
deployment needs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOB_SCHEMA = (
    "part_id int, col string, codec string, compression string, "
    "count long, null_count long, raw_size long, encoded_size long, "
    "vmin string, vmax string, boundary_order string, pages string, "
    "size_stats string, geo string, bloom binary, ndv binary, blob binary"
)
MANIFEST_COLS = [
    "part_id", "col", "codec", "compression", "count", "null_count",
    "raw_size", "encoded_size", "vmin", "vmax", "boundary_order", "pages",
    "size_stats", "geo",
]


class ManifestStore:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.blobs_dir = os.path.join(out_dir, "blobs")
        self.manifest_dir = os.path.join(out_dir, "manifest")

    def exists(self) -> bool:
        return os.path.isdir(self.blobs_dir) and any(
            f.endswith(".parquet") for f in os.listdir(self.blobs_dir)
        )

    def blobs(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(BLOB_SCHEMA).parquet(self.blobs_dir)

    def manifest(self, spark: SparkSession) -> DataFrame:
        """Column-pruned lineage view (parquet never reads the blob bytes)."""
        return self.blobs(spark).select(*MANIFEST_COLS)

    def completed_partitions(self, spark: SparkSession) -> DataFrame:
        if not self.exists():
            return spark.createDataFrame([], "part_id int")
        return self.blobs(spark).select("part_id").distinct()

    def append_blobs(self, df: DataFrame) -> None:
        # frames are already block-compressed; a second parquet-level pass
        # burns CPU for ~0 bytes (store-uncompressed-if-bigger analog at
        # the file layer)
        df.write.mode("append").option("compression", "uncompressed").parquet(
            self.blobs_dir
        )

    def write_manifest_snapshot(self, spark: SparkSession) -> None:
        """Export the manifest to ``manifest/`` for external readers, on
        demand only: no writer refreshes it (fsck flags a stale one)."""
        self.manifest(spark).write.mode("overwrite").parquet(self.manifest_dir)

    def pending(self, spark: SparkSession, planned: DataFrame) -> DataFrame:
        """Anti-join resume: planned rows whose part_id is not committed."""
        done = self.completed_partitions(spark)
        return planned.join(F.broadcast(done), "part_id", "left_anti")

    # ---- store-level layout metadata (writer/sorting.go:9-48 analog) ----
    # Records how the store was clustered (key column, range vs hash,
    # declared sort order, page size) so pruned reads can pick the right
    # strategy from the store itself instead of caller knowledge.

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.out_dir, "_store_meta.json")

    def write_meta(self, **meta) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        with open(self._meta_path, "w", encoding="utf-8") as f:
            json.dump(meta, f)

    def meta(self) -> dict:
        if not os.path.isfile(self._meta_path):
            return {}
        with open(self._meta_path, encoding="utf-8") as f:
            return json.load(f)
