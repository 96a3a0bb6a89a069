"""Streaming dedup + stateful stats: bounded-drain end-to-end tests.

Mirrors the batch test discipline: every streamed result is compared
against the equivalent batch computation on the same input files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _write_dup_input(spark, in_dir: str, rows: int = 400, dup: int = 100):
    from parquet_go_spark.sources.synth import token_sequences

    token_sequences(spark, rows, partitions=2).write.mode("append").parquet(
        in_dir
    )
    # ids 0..dup-1 regenerate bit-identical rows (counter-based synth) —
    # a second arrival of the same sequences, as a replayed upstream
    # would produce
    token_sequences(spark, dup, partitions=1).write.mode("append").parquet(
        in_dir
    )


def test_dedup_encode_stream_drops_duplicates(spark, tmp_path):
    from parquet_go_spark.operators.decode_job import decode_table
    from parquet_go_spark.sources.synth import token_sequences
    from parquet_go_spark.streaming.dedup import dedup_encode_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "store")
    _write_dup_input(spark, in_dir)

    store = dedup_encode_stream(
        spark, in_dir, out_dir, target_tokens=200_000, timeout_sec=600
    )
    dec = decode_table(
        spark, out_dir, ["doc_id", "tokens", "n_tok", "source"],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    want = token_sequences(spark, 400, partitions=2)
    assert dec.count() == 400
    assert dec.exceptAll(want).count() == 0
    assert want.exceptAll(dec).count() == 0
    # manifest committed and consistent with the deduped volume
    m = store.manifest(spark)
    total = m.filter(F.col("col") == "tokens").agg(
        F.sum("count").alias("n")
    ).collect()[0]["n"]
    assert total == 400
    # the live projection is the manifest: no snapshot is materialised
    assert not os.path.exists(store.manifest_dir)


def test_dedup_stream_watermarked_plan(spark, tmp_path):
    """The watermarked variant must carry bounded per-key state: the
    analyzed plan shows the watermark and the within-watermark dedup
    operator instead of full-history dedup."""
    from parquet_go_spark.sources.synth import SCHEMA
    from parquet_go_spark.streaming.dedup import dedup_stream

    in_dir = str(tmp_path / "in")
    _write_dup_input(spark, in_dir, rows=50, dup=10)
    stream = spark.readStream.schema(SCHEMA).parquet(in_dir).withColumn(
        "ts", F.current_timestamp()
    )
    plan = dedup_stream(stream, ts_col="ts")._jdf.queryExecution().analyzed(
    ).toString()
    assert "EventTimeWatermark" in plan, plan
    assert "WithinWatermark" in plan, plan


def test_source_stats_stream_running_totals(spark, tmp_path):
    from parquet_go_spark.sources.synth import SCHEMA
    from parquet_go_spark.streaming.dedup import source_stats_stream

    in_dir = str(tmp_path / "in")
    _write_dup_input(spark, in_dir)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        source_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("src_stats")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    got = spark.table("src_stats")
    # the final cumulative row per source equals the batch ground truth
    # (stats stream counts arrivals, duplicates included)
    final = got.groupBy("source").agg(
        F.max("docs").alias("docs"), F.max("toks").alias("toks"),
        F.sum("batch_docs").alias("arrivals"),
    )
    truth = (
        spark.read.parquet(in_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("toks"))
    )
    diff = final.select("source", "docs", "toks").exceptAll(
        truth.select("source", "docs", F.col("toks").cast("long"))
    )
    assert diff.count() == 0, (final.collect(), truth.collect())
    # cumulative == sum of per-batch increments
    bad = final.filter(F.col("docs") != F.col("arrivals"))
    assert bad.count() == 0, final.collect()
