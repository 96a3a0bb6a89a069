"""Pushed-down pruning on the blooms and page indexes the chunks carry.

A pushed-down ``=`` / ``IN`` / non-null ``<=>`` filter drops a partition
only when the chunk of that column carries a split-block bloom that rules
out every value. The store meta's ``bloom_cols`` is a record of the
writer's layout policy (compaction and upserts inherit it), never a gate
on the read side — so a store written before the writers recorded it
prunes the same way. Page pruning likewise reads the ``pages`` column of
the candidate chunks, not the meta's ``page_rows``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from parquet_go_spark import chunk
from parquet_go_spark.operators.compact import compact_store
from parquet_go_spark.operators.encode_job import encode_table
from parquet_go_spark.operators.partspec import encode_partitioned
from parquet_go_spark.operators.pruned import encode_generic
from parquet_go_spark.sources.pgs_datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThanOrEqual,
    _candidate_parts,
    _committed_files,
    _meta,
    _page_keep_map,
    _write_meta,
    describe_store,
    register,
)
from parquet_go_spark.sources.synth import token_sequences


def _encode(spark, out, seed, n_rows=1200, **kw):
    # encode_table cuts parts in input order; hash order within each
    # input task spreads every part's doc_id bounds over its task's
    # range, so stats keep partitions a bloom can drop
    src = token_sequences(spark, n_rows, seed=seed, partitions=2) \
        .sortWithinPartitions(F.xxhash64("doc_id"))
    encode_table(spark, src, out, target_tokens=60_000, resume=False, **kw)


def _strip_bloom_record(src, dst):
    """A copy of ``src`` as a store written before ``encode_table``
    recorded ``bloom_cols``: same chunks, no ``bloom_cols`` meta key."""
    shutil.copytree(src, dst)
    meta = _meta(dst)
    meta.pop("bloom_cols")
    _write_meta(dst, meta)


def _doc_id_chunks(path, field) -> dict:
    """part_id -> ``field`` of the partition's doc_id chunk row."""
    t = pads.dataset(_committed_files(path), format="parquet").to_table(
        columns=["part_id", field], filter=pads.field("col") == "doc_id")
    return dict(zip(t.column("part_id").to_pylist(),
                    t.column(field).to_pylist()))


def _doc_ids_by_part(path) -> dict[int, set[str]]:
    return {pid: set(chunk.decode_chunk(blob).to_pylist())
            for pid, blob in _doc_id_chunks(path, "blob").items()}


def _rows(df):
    return sorted((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
                  for r in df.collect())


def _stats_only(path, col, value):
    """The candidate set of ``col = value`` from min/max stats alone: a
    closed range never consults blooms."""
    return _candidate_parts(path, [GreaterThanOrEqual((col,), value),
                                   LessThanOrEqual((col,), value)])


@pytest.mark.parametrize("seed", [5, 17, 23])
def test_bloom_pruning_differential(spark, tmp_path, seed):
    register(spark)
    out = str(tmp_path / "store")
    _encode(spark, out, seed, bloom_cols={"doc_id"},
            page_rows=int(np.random.default_rng(seed).integers(32, 200)))
    assert _meta(out)["bloom_cols"] == ["doc_id"]
    old = str(tmp_path / "pre_record")
    _strip_bloom_record(out, old)

    by_part = _doc_ids_by_part(out)
    total = len(by_part)
    assert total >= 6
    stored = set().union(*by_part.values())
    present = sorted(stored)
    rng = np.random.default_rng(seed)
    # absent keys inside every partition's [vmin, vmax] (only a bloom can
    # drop them) and past the last id (stats drop them too)
    absent = [present[i] + "z" for i in rng.choice(len(present), 6)] + [
        f"doc-{i:012d}" for i in rng.integers(10**6, 10**7, 2)]

    pushed = spark.read.format("pgs").option("pushdown", "true")
    plain = spark.read.format("pgs")
    pruned_any = False
    for trial in range(8):
        n = 1 if trial % 2 == 0 else int(rng.integers(2, 9))
        keys = [present[i] if rng.random() < 0.7
                else absent[int(rng.integers(len(absent)))]
                for i in rng.choice(len(present), n)]
        filt = (EqualTo(("doc_id",), keys[0]) if n == 1
                else In(("doc_id",), tuple(keys)))
        needed = {p for p, ids in by_part.items() if ids & set(keys)}
        cands = _candidate_parts(out, [filt])
        assert needed <= set(cands), (keys, needed, cands)
        # a pre-record store prunes exactly the same way
        assert _candidate_parts(old, [filt]) == cands
        pruned_any |= len(cands) < total
        cond = (F.col("doc_id") == keys[0] if n == 1
                else F.col("doc_id").isin(keys))
        want = _rows(plain.load(out).filter(cond))
        assert sorted(r[0] for r in want) == sorted(set(keys) & stored)
        assert _rows(pushed.load(out).filter(cond)) == want
        assert _rows(pushed.load(old).filter(cond)) == want
    assert pruned_any

    # non-null <=> prunes like =
    k = present[int(rng.integers(len(present)))]
    home = {p for p, ids in by_part.items() if k in ids}
    nse = _candidate_parts(old, [EqualNullSafe(("doc_id",), k)])
    assert home <= set(nse) and len(nse) < total
    assert nse == _candidate_parts(old, [EqualTo(("doc_id",), k)])


@pytest.fixture(scope="module")
def bloom_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bloom_store") / "store")
    _encode(spark, out, 7, bloom_cols={"doc_id"})
    return out


def test_no_bloom_and_added_columns_keep_stats_candidates(
        bloom_store, tmp_path):
    by_part = _doc_ids_by_part(bloom_store)
    key = sorted(by_part[min(by_part)])[3]
    eq = [EqualTo(("doc_id",), key)]
    # the bloom drops partitions the stats keep ...
    assert len(_candidate_parts(bloom_store, eq)) < len(
        _stats_only(bloom_store, "doc_id", key))
    # ... but a column whose chunks carry no bloom keeps the stats set
    for col, v in (("source", "web"), ("n_tok", 300)):
        assert _candidate_parts(bloom_store, [EqualTo((col,), v)]) == \
            _stats_only(bloom_store, col, v)
        assert _candidate_parts(bloom_store, [In((col,), (v,))]) == \
            _stats_only(bloom_store, col, v)
    # and so does a column in added_columns, whatever its chunks carry
    added = str(tmp_path / "added")
    shutil.copytree(bloom_store, added)
    meta = _meta(added)
    meta["added_columns"] = {"doc_id": {"default": None}}
    _write_meta(added, meta)
    assert _candidate_parts(added, eq) == _stats_only(added, "doc_id", key)


def test_compact_keeps_doc_id_blooms(spark, bloom_store, tmp_path):
    parts = len(_doc_ids_by_part(bloom_store))
    pre = str(tmp_path / "pre_record")
    _strip_bloom_record(bloom_store, pre)
    for src in (bloom_store, pre):
        dst = str(tmp_path / f"compacted_{os.path.basename(src)}")
        summary = compact_store(spark, src, dst, target_raw=1 << 30)
        assert summary["dst_parts"] < parts and summary["merged_groups"]
        blooms = _doc_id_chunks(dst, "bloom").values()
        assert blooms and all(b is not None for b in blooms)
        assert _meta(dst)["bloom_cols"] == ["doc_id"]
    # an explicit bloom_cols is the layout compaction built: record it
    dst = str(tmp_path / "explicit")
    compact_store(spark, bloom_store, dst, target_raw=1 << 30,
                  bloom_cols={"doc_id", "source"})
    assert _meta(dst)["bloom_cols"] == ["doc_id", "source"]
    assert describe_store(dst)["bloom_cols"] == ["doc_id", "source"]


def test_describe_reports_chunk_blooms(bloom_store, tmp_path):
    assert describe_store(bloom_store)["bloom_cols"] == ["doc_id"]
    pre = str(tmp_path / "pre_record")
    _strip_bloom_record(bloom_store, pre)
    assert describe_store(pre)["bloom_cols"] == ["doc_id"]


def test_encode_partitioned_records_bloom_cols(spark, tmp_path):
    df = spark.createDataFrame([(i, f"k{i % 5}") for i in range(40)],
                               "k long, g string")
    out = str(tmp_path / "parted")
    store = encode_partitioned(spark, df, out, "identity(g)",
                               bloom_cols={"k"}, page_rows=4,
                               ndv_cols={"k"})
    assert store.meta()["bloom_cols"] == ["k"]
    desc = describe_store(out)
    assert desc["bloom_cols"] == ["k"]
    assert desc["page_rows"] == 4
    assert desc["ndv_cols"] == ["k"]


@pytest.mark.parametrize("seed", [3, 19])
def test_page_pruning_differential(spark, tmp_path, seed):
    register(spark)
    rng = np.random.default_rng(seed)
    n = 3000
    df = spark.createDataFrame(
        [(int(k), int(v)) for k, v in
         zip(rng.permutation(n), rng.integers(0, 500, n))],
        "k long, v long")
    paged = str(tmp_path / "paged")
    encode_generic(spark, df, paged, key_col="k", num_parts=4,
                   page_rows=int(rng.integers(32, 200)), sort_within=True)
    # the same chunks under a meta that never recorded page_rows
    old = str(tmp_path / "pre_record")
    shutil.copytree(paged, old)
    meta = _meta(old)
    meta.pop("page_rows")
    _write_meta(old, meta)
    unpaged = str(tmp_path / "unpaged")
    encode_generic(spark, df, unpaged, key_col="k", num_parts=4,
                   sort_within=True)

    pushed = spark.read.format("pgs").option("pushdown", "true")
    plain = spark.read.format("pgs")
    pruned_any = False
    for trial in range(8):
        lo = int(rng.integers(0, n))
        hi = lo + int(rng.integers(0, 300))
        keys = tuple(int(x) for x in rng.integers(0, n, 3))
        filters, cond = [
            ([GreaterThanOrEqual(("k",), lo), LessThanOrEqual(("k",), hi)],
             (F.col("k") >= lo) & (F.col("k") <= hi)),
            ([EqualTo(("k",), lo)], F.col("k") == lo),
            ([In(("k",), keys)], F.col("k").isin(list(keys))),
            ([GreaterThanOrEqual(("k",), lo), LessThanOrEqual(("v",), 40)],
             (F.col("k") >= lo) & (F.col("v") <= 40)),
        ][trial % 4]
        cands = _candidate_parts(paged, filters)
        keep = _page_keep_map(paged, cands, filters)
        assert _page_keep_map(old, cands, filters) == keep
        assert _page_keep_map(
            unpaged, _candidate_parts(unpaged, filters), filters) == {}
        pruned_any |= bool(keep)
        want = sorted(tuple(r) for r in df.filter(cond).collect())
        for path in (paged, old, unpaged):
            assert sorted(tuple(r) for r in
                          plain.load(path).filter(cond).collect()) == want
            assert sorted(tuple(r) for r in
                          pushed.load(path).filter(cond).collect()) == want
    assert pruned_any
