"""One pruning rule set for both stores (``parquet_go_spark.prune``).

A PGS partition chunk, a parquet row group and a page of either are all
kept or dropped by ``prune.keep`` over Spark's own Filter objects. These
tests pin the parquet defects the shared rules fixed (NaN rows dropped by
float bounds that leave NaN out, DECIMAL bounds stored as bytes) and
check that the two stores answer the same pushed query alike.
"""

from __future__ import annotations

import decimal
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_go_spark import pqinterop as P
from parquet_go_spark import prune
from parquet_go_spark.operators.parquet_sink import (
    _rg_keep,
    read_parquet_dir,
    write_parquet_dir,
)
from parquet_go_spark.sources.pgs_datasource import register

D = decimal.Decimal


def _pyarrow_file(tmp_path) -> str:
    d = tmp_path / "pa"
    d.mkdir()
    f = str(d / "x.parquet")
    pq.write_table(pa.table({
        "x": [1.0, math.nan, 2.0],
        "d": pa.array([D("1.25"), D("2.25"), None], pa.decimal128(10, 2)),
    }), f, write_page_index=True)
    return f


def _rg_verdict(f: str, col: str, pred: tuple) -> bool:
    chunks = P.column_chunks(P.read_footer(f))[0]
    leaf = next(c.leaf_el for c in chunks if c.name == col)
    return _rg_keep(f, chunks, {col: [P.storage_filter(x, leaf)
                                      for x in prune.from_tuple(col, pred)]})


def test_float_zones_keep_nan_rows(tmp_path):
    """Parquet float bounds leave NaN out, so a row group or page with
    bounds [1, 2] may still hold the NaN a Spark ``x = NaN`` matches."""
    f = _pyarrow_file(tmp_path)
    meta = P.read_footer(f)
    for pred in (("eq", math.nan), ("range", 3.0, math.nan),
                 ("in", [7.0, math.nan])):
        assert _rg_verdict(f, "x", pred)
        assert P.predicate_row_ranges(f, meta, 0, {"x": pred}) == (
            [(0, 3)], True)
    # a filter NaN cannot satisfy still prunes on the finite bounds
    assert not _rg_verdict(f, "x", ("eq", 5.0))
    assert P.predicate_row_ranges(f, meta, 0, {"x": ("eq", 5.0)}) == (
        [], True)


def test_decimal_bytes_bounds_prune(tmp_path):
    """A DECIMAL stored as FIXED_LEN_BYTE_ARRAY has big-endian
    two's-complement bounds: both layers compare them with the unscaled
    filter value instead of keeping (row group) or raising (pages)."""
    f = _pyarrow_file(tmp_path)
    meta = P.read_footer(f)
    for pred, hit in ((("eq", D("2.25")), True), (("eq", 225), True),
                      (("eq", D("3.25")), False),
                      (("eq", D("2.255")), False),
                      (("range", D("-9"), D("1.2")), False),
                      (("in", [D("0.5"), D("1.25")]), True)):
        assert _rg_verdict(f, "d", pred) is hit, pred
        r, pruned = P.predicate_row_ranges(f, meta, 0, {"d": pred})
        assert pruned and r == ([(0, 3)] if hit else []), pred


def test_pruned_nan_reads_match_spark(spark, tmp_path):
    """The pruned engine read returns the NaN row Spark's ``x = NaN`` and
    ``x BETWEEN 3 AND NaN`` match. The reference read runs with Spark's
    own parquet filter pushdown off: parquet-mr's row-group statistics
    filter drops that row too."""
    f = _pyarrow_file(tmp_path)
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        src = spark.read.parquet(f)
        for pred, cond in (
                (("eq", math.nan), F.col("x") == F.lit(math.nan)),
                (("range", 3.0, math.nan),
                 F.col("x").between(F.lit(3.0), F.lit(math.nan)))):
            got = read_parquet_dir(spark, os.path.dirname(f),
                                   columns=["x"],
                                   filters={"x": pred}).collect()
            want = src.filter(cond).select("x").collect()
            assert len(got) == len(want) == 1
            assert math.isnan(got[0]["x"]) and math.isnan(want[0]["x"])
    finally:
        spark.conf.unset("spark.sql.parquet.filterPushdown")


def _key(row) -> str:
    """A sortable, NaN-equal rendering of a row."""
    return repr(tuple("NaN" if isinstance(v, float) and v != v else v
                      for v in row))


@pytest.mark.parametrize("seed", [5, 23])
def test_stores_prune_alike(spark, tmp_path, seed):
    """The same random table in a PGS store (blooms, pages) and in an
    engine-written parquet directory (blooms, row groups, pages): a pushed
    ``format("pgs")`` read, ``read_parquet_dir(filters=)`` and
    ``df.filter`` return the same rows for random eq / in / range
    filters, NaN among the float values and the filter values."""
    register(spark)
    rng = np.random.default_rng(seed)
    n = 600
    floats = [math.nan, math.inf, -math.inf, -0.0, 0.5, 1.5, 2.5, 7.0]
    rows = [(int(k), None if i % 17 == 0 else floats[int(j)],
             None if i % 13 == 0 else f"s{int(s):03d}")
            for i, (k, j, s) in enumerate(zip(
                rng.integers(0, 200, n), rng.integers(0, len(floats), n),
                rng.integers(0, 90, n)))]
    df = spark.createDataFrame(rows, "k long, x double, s string")
    df = df.orderBy("k").coalesce(1)
    pgs_dir, pq_dir = str(tmp_path / "pgs"), str(tmp_path / "pq")
    (df.repartition(4, "k").write.format("pgs").mode("overwrite")
     .option("bloom_cols", "k,s").option("page_rows", "32").save(pgs_dir))
    write_parquet_dir(df, pq_dir, row_group_rows=128, page_rows=32,
                      bloom_columns=["k", "s"])
    pushed = spark.read.format("pgs").option("pushdown", "true").load(
        pgs_dir)

    values = {"k": lambda: int(rng.integers(-5, 205)),
              "x": lambda: floats[int(rng.integers(len(floats)))],
              "s": lambda: f"s{int(rng.integers(0, 95)):03d}"}
    for trial in range(9):
        col = "kxs"[trial % 3]
        op = ("eq", "in", "range")[trial // 3]
        draw = values[col]
        if op == "eq":
            pred = ("eq", draw())
            cond = F.col(col) == F.lit(pred[1])
        elif op == "in":
            vs = [draw() for _ in range(3)]
            pred, cond = ("in", vs), F.col(col).isin(
                [F.lit(v) for v in vs])
        else:
            lo, hi = sorted((draw(), draw()), key=prune.order_key)
            pred = ("range", lo, hi)
            cond = F.col(col).between(F.lit(lo), F.lit(hi))
        want = sorted(map(_key, df.filter(cond).collect()))
        assert sorted(map(_key, pushed.filter(cond).collect())) == want, \
            pred
        got = read_parquet_dir(spark, pq_dir, filters={col: pred})
        assert sorted(map(_key, got.collect())) == want, pred


def test_pgs_date_and_timestamp_filters_prune(spark, tmp_path):
    """Date and timestamp bounds are epoch days and micros in the
    manifest: a pushed ``format("pgs")`` read prunes on them and returns
    what ``df.filter`` does, for zoned and naive timestamps alike."""
    import datetime as dt

    register(spark)
    rng = np.random.default_rng(3)
    n = 400
    day0 = dt.date(2019, 12, 1)
    rows = []
    for i, (k, s) in enumerate(zip(rng.integers(0, 120, n),
                                   rng.integers(0, 86_400_000_000, n))):
        d = day0 + dt.timedelta(days=int(k))
        t = dt.datetime(d.year, d.month, d.day) + dt.timedelta(
            microseconds=int(s))
        rows.append((None if i % 29 == 0 else d, t, t))
    df = spark.createDataFrame(rows, "d date, t timestamp, tn timestamp_ntz")
    out = str(tmp_path / "pgs")
    (df.repartitionByRange(4, "t").write.format("pgs").mode("overwrite")
     .option("page_rows", "32").save(out))
    parts = spark.read.format("pgs").load(out).rdd.getNumPartitions()
    assert parts == 4

    def pushed(cond):
        return spark.read.format("pgs").option("pushdown", "true") \
            .load(out).filter(cond)

    for trial in range(12):
        col = ("d", "t", "tn")[trial % 3]
        a, b = sorted(day0 + dt.timedelta(days=int(x))
                      for x in rng.integers(-5, 125, 2))
        lo, hi = (a, b) if col == "d" else (
            dt.datetime(a.year, a.month, a.day),
            dt.datetime(b.year, b.month, b.day, 12))
        cond = [F.col(col) == F.lit(lo), F.col(col).isin(F.lit(lo), F.lit(hi)),
                F.col(col).between(F.lit(lo), F.lit(hi)),
                F.col(col) > F.lit(hi)][trial % 4]
        got = sorted(map(_key, pushed(cond).collect()))
        assert got == sorted(map(_key, df.filter(cond).collect())), cond
    # a range inside the first zone's days reads fewer parts
    first = dt.datetime(2019, 12, 5)
    for col, v in (("d", first.date()), ("t", first), ("tn", first)):
        q = pushed(F.col(col) < F.lit(v))
        assert 0 < q.rdd.getNumPartitions() < parts, col
        assert q.count() == df.filter(F.col(col) < F.lit(v)).count()
