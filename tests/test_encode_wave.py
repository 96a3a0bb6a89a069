"""encode_table in one wave: the encode shuffle is sized to the cores and
no writer materialises a ``manifest/`` snapshot.

The exchange on part_id gets ``min(planned groups, defaultParallelism)``
hash partitions. AQE leaves a fixed partition count alone, so a write
runs one encode task per core and leaves at most one blob file with rows
per core. ``ManifestStore.manifest()`` is the live manifest every reader
uses; ``write_manifest_snapshot`` is an export made only on demand.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.operators.compact import compact_store
from parquet_go_spark.operators.decode_job import decode_table
from parquet_go_spark.operators.encode_job import encode_blobs_df, encode_table
from parquet_go_spark.operators.maintenance import fsck_store, rotate_store_keys
from parquet_go_spark.operators.verify import bit_identical_checksum
from parquet_go_spark.sources.synth import SCHEMA, token_sequences
from parquet_go_spark.streaming.ingest import stream_encode

COLS = ["doc_id", "tokens", "n_tok", "source"]


def _files_with_rows(out: str) -> dict[str, list[str]]:
    """Spark write job id -> its blob files that hold rows. A write whose
    first task gets no group still leaves an empty part-00000."""
    jobs: dict[str, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(out, "blobs", "*.parquet"))):
        job = re.match(r"part-\d+-(.+)-c\d+", os.path.basename(f)).group(1)
        files = jobs.setdefault(job, [])
        if pq.ParquetFile(f).metadata.num_rows:
            files.append(f)
    return jobs


def _part_ids(f: str) -> set[int]:
    return set(pq.read_table(f, columns=["part_id"])
               .column("part_id").to_pylist())


@pytest.mark.parametrize("groups", [None, 2, 64])
def test_encode_plan_has_one_exchange_sized_to_cores(spark, groups):
    cores = spark.sparkContext.defaultParallelism
    planned = spark.range(400).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "1 n_tok", "'web' source", "cast(id % 64 as int) part_id")
    blobs = encode_blobs_df(planned, num_partitions=groups)
    plan = blobs._sc._jvm.PythonSQLUtils.explainString(
        blobs._jdf.queryExecution(), "formatted")
    exchanges = [ln for ln in plan.splitlines()
                 if ln.strip().startswith("(") and "Exchange" in ln]
    assert len(exchanges) == 1, plan
    n = min(groups or cores, cores)
    assert re.findall(r"hashpartitioning\(part_id#\d+, (\d+)\)", plan) \
        == [str(n)], plan


@pytest.fixture(scope="module")
def source_df(spark):
    df = token_sequences(spark, 3000, seed=11, partitions=2).cache()
    df.count()
    yield df
    df.unpersist()


def test_encode_table_writes_one_file_per_core(spark, source_df, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "store")
    store, plan = encode_table(spark, source_df, out, target_tokens=40_000,
                               resume=False)
    assert plan.num_partitions > cores
    (files,) = _files_with_rows(out).values()
    assert 0 < len(files) <= cores
    assert not os.path.exists(store.manifest_dir)


def test_waves_resume_decodes_to_input(spark, source_df, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "store")
    store, plan = encode_table(spark, source_df, out, target_tokens=40_000,
                               waves=3, resume=False)
    jobs = _files_with_rows(out)
    assert len(jobs) == 3
    assert all(0 < len(fs) <= cores for fs in jobs.values())
    # a crash before the last wave's commit: its files never landed
    last = max(jobs.values(), key=lambda fs: max(map(_part_ids, fs)))
    lost = set().union(*map(_part_ids, last))
    for f in glob.glob(os.path.join(out, "blobs", "*.parquet")):
        if f in last or not pq.ParquetFile(f).metadata.num_rows:
            os.remove(f)
    assert not lost & {r["part_id"] for r in
                       store.completed_partitions(spark).collect()}

    encode_table(spark, source_df, out, target_tokens=40_000, waves=3)
    per_part = store.manifest(spark).groupBy("part_id").count().collect()
    assert {r["part_id"] for r in per_part} >= lost
    assert all(r["count"] == len(COLS) for r in per_part)
    assert all(len(fs) <= cores for fs in _files_with_rows(out).values())
    decoded = decode_table(spark, out, COLS, SCHEMA)
    assert decoded.count() == source_df.count()
    assert bit_identical_checksum(source_df, decoded)


def test_writers_leave_no_manifest_snapshot(spark, tmp_path):
    src = token_sequences(spark, 800, partitions=2)
    enc = str(tmp_path / "encoded")
    store, _ = encode_table(spark, src, enc, target_tokens=100_000,
                            resume=False)
    compacted = str(tmp_path / "compacted")
    compact_store(spark, enc, compacted, target_raw=1 << 30)
    rotated = str(tmp_path / "rotated")
    rotate_store_keys(spark, enc, rotated, old_key=None,
                      new_key=bytes(range(16)))
    drop, streamed = str(tmp_path / "drop"), str(tmp_path / "streamed")
    src.write.parquet(drop)
    stream_encode(spark, drop, streamed, target_tokens=100_000)
    for out in (enc, compacted, rotated, streamed):
        assert glob.glob(os.path.join(out, "blobs", "*.parquet")), out
        assert not os.path.exists(os.path.join(out, "manifest")), out

    # the export stays available on demand and matches the live view
    store.write_manifest_snapshot(spark)
    snap = spark.read.parquet(store.manifest_dir)
    live = store.manifest(spark)
    assert snap.exceptAll(live).count() == 0
    assert live.exceptAll(snap).count() == 0
    assert fsck_store(spark, enc).count() == 0
    assert live.filter(F.col("col") == "doc_id").agg(
        F.sum("count")).collect()[0][0] == 800
