"""Structured Streaming ingest into the blob store.

The reference is a batch library (SURVEY.md §2.9) — its closest analog is
incremental Write/Flush buffering (writer/ops.go:129-180). At corpus scale
the token table usually *arrives* continuously, so the engine also exposes
a streaming front door: `readStream` over a parquet drop directory,
`foreachBatch` running the same salted-partition encode kernel per
micro-batch, Spark's streaming checkpoint giving exactly-once batch
commits on top of our manifest (a replayed batch re-encodes the same
part_ids deterministically and the resume anti-join drops them).

Trigger `availableNow` drains the backlog and stops — the bounded mode
tests use; a production deployment drops the trigger and it runs forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode_job import encode_blobs_df
from ..operators.store import ManifestStore
from ..sources.synth import SCHEMA


def stream_encode(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_tokens: int = 500_000,
    compression: str | None = "zstd",
    timeout_sec: int = 300,
) -> ManifestStore:
    """Drain ``in_dir`` (parquet files of token sequences) into the blob
    store with one availableNow streaming query."""
    return drain_into_store(read_drop_dir(spark, in_dir), out_dir,
                            target_tokens, compression, timeout_sec)


def read_drop_dir(spark: SparkSession, in_dir: str) -> DataFrame:
    """The parquet drop directory as a stream, four files per trigger."""
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )


def drain_into_store(
    stream: DataFrame,
    out_dir: str,
    target_tokens: int,
    compression: str | None,
    timeout_sec: int,
) -> ManifestStore:
    """Encode every micro-batch of ``stream`` into the blob store at
    ``out_dir`` and return once the availableNow query drains.

    Partition ids are assigned per micro-batch from a hash of doc_id offset
    by a per-batch base, so ids stay stable under replay (batch_id is the
    streaming checkpoint's replay key)."""
    store = ManifestStore(out_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # micro-batches are modest; bucket count from a cheap count agg
        agg = batch_df.select(F.sum("n_tok").alias("t")).collect()[0]
        total = int(agg["t"] or 0)
        if total == 0:
            return
        nparts = max(-(-total // target_tokens), 1)
        base = batch_id * 1_000_000  # disjoint id range per micro-batch
        planned = batch_df.withColumn(
            "part_id",
            (F.lit(base)
             + F.pmod(F.xxhash64("doc_id"), F.lit(nparts))).cast("int"),
        )
        pending = (
            store.pending(batch_df.sparkSession, planned)
            if store.exists() else planned
        )
        store.append_blobs(encode_blobs_df(pending, compression, "auto",
                                           num_partitions=nparts))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return store
