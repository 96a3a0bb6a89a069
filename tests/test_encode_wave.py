"""The encode plan shapes, wave resume, and the ``manifest/`` export.

``encode_table`` encodes inside the input's scan tasks (at most one per
core, no Exchange), cutting parts at a running n_tok sum; its waves are
``doc_id`` hash classes that resume one by one. ``encode_blobs_df`` (for
callers that assign part ids themselves) has one Exchange on part_id
with ``min(planned groups, defaultParallelism)`` hash partitions. Either
way a write leaves at most one blob file with rows per core.
``ManifestStore.manifest()`` is the live manifest every reader uses;
``write_manifest_snapshot`` is an export made only on demand.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.operators.compact import compact_store
from parquet_go_spark.operators.decode_job import decode_table
from parquet_go_spark.operators.encode_job import (
    _cut_groups,
    encode_blobs_df,
    encode_table,
    scan_blobs_df,
)
from parquet_go_spark.operators.maintenance import fsck_store, rotate_store_keys
from parquet_go_spark.operators.store import ManifestStore
from parquet_go_spark.operators.verify import bit_identical_checksum
from parquet_go_spark.sources.pgs_datasource import register
from parquet_go_spark.sources.synth import SCHEMA, token_sequences
from parquet_go_spark.streaming.ingest import stream_encode

COLS = ["doc_id", "tokens", "n_tok", "source"]


def _files_with_rows(out: str) -> dict[str, list[str]]:
    """Spark write job id -> its blob files that hold rows. A write whose
    first task encodes no part (an empty wave) still leaves an empty
    part-00000."""
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


@pytest.mark.parametrize("seed", range(5))
def test_cut_groups_matches_a_running_sum_loop(seed):
    """The vectorized cut equals a row-by-row running sum over batch
    boundaries, empty batches, zeros, nulls (count 0) and rows above
    the target."""
    rng = np.random.default_rng(seed)
    target = int(rng.integers(1, 400))
    batches = []
    for _ in range(int(rng.integers(1, 6))):
        n = rng.integers(0, 600, int(rng.integers(0, 50))).tolist()
        n = [None if rng.random() < 0.05 else v for v in n]
        batches.append(pa.record_batch([pa.array(n, pa.int32())],
                                       names=["n_tok"]))
    want, group, acc = [], [], 0
    for v in (v for b in batches for v in b.column(0).to_pylist()):
        group.append(v)
        acc += v or 0
        if acc >= target:
            want.append(group)
            group, acc = [], 0
    if group:
        want.append(group)
    got = [[v for b in g for v in b.column(0).to_pylist()]
           for g in _cut_groups(batches, target)]
    assert got == want


def _plan_string(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_encode_table_runs_in_the_scan(spark, source_df, tmp_path):
    """No Exchange in the encode plan, and encode_table's one write job
    is one stage; every blob file it leaves holds rows."""
    plan = _plan_string(scan_blobs_df(source_df, 40_000))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan and "Coalesce" in plan, plan

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "encode-in-scan")
    try:
        encode_table(spark, source_df, str(tmp_path / "store"),
                     target_tokens=40_000, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("encode-in-scan")
    assert len(tracker.getJobInfo(job).stageIds) == 1
    blobs = glob.glob(str(tmp_path / "store" / "blobs" / "*.parquet"))
    assert blobs and all(pq.ParquetFile(f).metadata.num_rows for f in blobs)


def test_heavy_tail_parts_stay_bounded(spark, tmp_path):
    """Every 10th doc at 65,536 tokens: each part holds at most target +
    the largest doc, measured per part through the pgs reader."""
    target = 200_000
    skewed = token_sequences(spark, 3000, partitions=4).withColumn(
        "n_tok",
        F.when(F.col("doc_id").substr(-1, 1) == "0", F.lit(65536))
        .otherwise(F.col("n_tok")),
    )
    out = str(tmp_path / "store")
    _, plan = encode_table(spark, skewed, out, target_tokens=target,
                           resume=False)
    register(spark)
    mass = (spark.read.format("pgs").option("with_pos", "true").load(out)
            .groupBy("_pgs_part").agg(F.sum("n_tok").alias("m"))
            .toPandas())
    assert len(mass) == plan.num_partitions
    assert mass["m"].sum() == skewed.agg(F.sum("n_tok")).collect()[0][0]
    assert mass["m"].max() <= target + 65536, mass["m"].max()


@pytest.fixture()
def input_dir(spark, source_df, tmp_path):
    """source_df as 4 parquet files of 100-row row groups."""
    path = tmp_path / "input"
    path.mkdir()
    table = source_df.orderBy("doc_id").toArrow()
    step = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(table.slice(i * step, step),
                       str(path / f"part-{i}.parquet"), row_group_size=100)
    return str(path)


def _wave_files(out: str, waves: int) -> dict[int, list[str]]:
    """wave -> blob files holding its parts (each file holds one wave)."""
    by_wave: dict[int, list[str]] = {}
    for fs in _files_with_rows(out).values():
        for f in fs:
            (w,) = {p % waves for p in _part_ids(f)}
            by_wave.setdefault(w, []).append(f)
    return by_wave


def _assert_decodes_to(spark, out: str, src) -> None:
    decoded = decode_table(spark, out, COLS, SCHEMA)
    assert decoded.count() == src.count()
    assert decoded.select("doc_id").distinct().count() == src.count()
    assert bit_identical_checksum(src, decoded)


def test_resume_redoes_a_partial_wave(spark, input_dir, tmp_path):
    src = spark.read.parquet(input_dir)
    out = str(tmp_path / "store")
    encode_table(spark, src, out, target_tokens=40_000, waves=3,
                 resume=False)
    before = _wave_files(out, 3)
    partial = max(before, key=lambda w: len(before[w]))
    assert len(before[partial]) > 1
    os.remove(before[partial][0])

    _, plan = encode_table(spark, src, out, target_tokens=40_000, waves=3)
    after = _wave_files(out, 3)
    for w in set(before) - {partial}:
        assert sorted(after[w]) == sorted(before[w])   # skipped
    assert not set(after[partial]) & set(before[partial])   # redone
    assert plan.num_partitions == ManifestStore(out).manifest(spark) \
        .select("part_id").distinct().count()
    _assert_decodes_to(spark, out, src)


def test_resume_a_lost_wave_under_other_splits(spark, input_dir, tmp_path):
    src = spark.read.parquet(input_dir)
    out = str(tmp_path / "store")
    encode_table(spark, src, out, target_tokens=40_000, waves=3,
                 resume=False)
    for f in _wave_files(out, 3)[1]:
        os.remove(f)
    splits = src.rdd.getNumPartitions()
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        resplit = spark.read.parquet(input_dir)
        assert resplit.rdd.getNumPartitions() > splits
        encode_table(spark, resplit, out, target_tokens=40_000, waves=3)
    finally:
        spark.conf.set(key, old)
    assert set(_wave_files(out, 3)) == {0, 1, 2}
    _assert_decodes_to(spark, out, src)


def test_resume_refuses_a_foreign_store(spark, source_df, tmp_path):
    register(spark)
    out = str(tmp_path / "store")
    source_df.write.format("pgs").mode("overwrite").save(out)
    with pytest.raises(ValueError, match="another writer"):
        encode_table(spark, source_df, out, target_tokens=40_000)

    ours = str(tmp_path / "ours")
    encode_table(spark, source_df, ours, target_tokens=40_000, waves=2)
    with pytest.raises(ValueError, match="waves=2"):
        encode_table(spark, source_df, ours, target_tokens=40_000, waves=3)
