"""Engine-written REAL parquet files (pqwriter.py), proven by external
readers: pyarrow, DuckDB, and the engine's own spec reader
(pqinterop.py). The reference's write half re-created
(/root/reference/internal/layout/page_write_encode.go,
internal/encoding/encodingwrite.go): thrift compact footer + page
headers serialized here, every value byte from the engine codecs."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark import pqinterop as P
from parquet_go_spark import pqwriter as W


def _rng():
    return np.random.default_rng(0xBEEF)


def _mixed_table(n=10_000):
    rng = _rng()
    return pa.table({
        "i64": pa.array(np.cumsum(rng.integers(-50, 400, n)).astype(np.int64)),
        "i32": pa.array(rng.integers(-10**6, 10**6, n).astype(np.int32)),
        "f64": pa.array(rng.normal(size=n)),
        "f32": pa.array(rng.normal(size=n).astype(np.float32)),
        "lo": pa.array([f"doc-{i % 97:06d}" for i in range(n)]),       # dict
        "hi": pa.array([f"u-{i}-{rng.integers(0, 1 << 30)}"
                        for i in range(n)]),                           # delta
        "b": pa.array(rng.integers(0, 2, n).astype(bool)),
        "d32": pa.array(
            (np.arange(n) % 2000).astype(np.int32)).cast(pa.date32()),
        "ts": pa.array((np.arange(n) * 977_123).astype("datetime64[us]")),
        "ni": pa.array([None if i % 7 == 0 else i * 3 for i in range(n)],
                       pa.int64()),
        "ns": pa.array([None if i % 11 == 0 else f"v{i % 13}"
                        for i in range(n)]),
        "fx": pa.array([bytes([i % 251]) * 4 for i in range(n)],
                       pa.binary(4)),
    })


def _assert_tables_equal(a: pa.Table, b: pa.Table):
    assert a.num_rows == b.num_rows
    for name in a.column_names:
        assert a.column(name).to_pylist() == b.column(name).to_pylist(), name


@pytest.mark.parametrize("comp", ["none", "snappy", "zstd", "gzip",
                                  "brotli", "lz4_raw"])
def test_pyarrow_reads_engine_file_every_codec(tmp_path, comp):
    tbl = _mixed_table(4000)
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression=comp,
                  row_group_rows=1500, page_rows=700)
    _assert_tables_equal(tbl, pq.read_table(f))


def test_page_crcs_verify(tmp_path):
    tbl = _mixed_table(3000)
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression="zstd")
    got = pq.read_table(f, page_checksum_verification=True)
    _assert_tables_equal(tbl, got)


def test_duckdb_reads_engine_file(tmp_path):
    import duckdb

    tbl = _mixed_table(5000)
    f = str(tmp_path / "t.parquet")
    W.write_table(tbl, f, compression="zstd", row_group_rows=2000)
    con = duckdb.connect()
    cnt, s64, mn, mx, nn = con.execute(
        f"SELECT count(*), sum(i64), min(lo), max(hi), count(ni) "
        f"FROM '{f}'").fetchone()
    assert cnt == tbl.num_rows
    assert s64 == int(np.sum(np.asarray(tbl["i64"])))
    assert mn == min(tbl["lo"].to_pylist())
    assert mx == max(tbl["hi"].to_pylist())
    assert nn == tbl.num_rows - tbl["ni"].null_count


@pytest.mark.parametrize("enc,col", [
    ("plain", "i64"), ("plain", "lo"), ("plain", "f64"),
    ("delta", "i64"), ("delta", "i32"),
    ("bss", "f64"), ("bss", "f32"),
    ("delta_length", "hi"), ("delta_ba", "hi"), ("delta_ba", "lo"),
    ("dict", "i64"), ("dict", "lo"), ("dict", "f64"),
])
def test_forced_encoding_roundtrips(tmp_path, enc, col):
    tbl = _mixed_table(6000).select([col])
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression="snappy",
                  encodings={col: enc}, page_rows=1700)
    _assert_tables_equal(tbl, pq.read_table(f))
    # the engine's own spec reader decodes the engine's spec writer
    got = P.decode_column(str(f), col)
    exp = tbl.column(col).to_pylist()
    if pa.types.is_string(tbl.schema.field(col).type):
        exp = [None if v is None else v.encode() for v in exp]
    assert got == exp


def test_stats_are_exact_and_trusted(tmp_path):
    tbl = _mixed_table(4000)
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression="zstd", row_group_rows=10**6)
    md = pq.ParquetFile(f).metadata
    rg = md.row_group(0)
    by_name = {rg.column(i).path_in_schema: rg.column(i).statistics
               for i in range(md.num_columns)}
    assert by_name["i64"].has_min_max
    vals = np.asarray(tbl["i64"])
    assert by_name["i64"].min == vals.min() and by_name["i64"].max == vals.max()
    assert by_name["lo"].min == min(tbl["lo"].to_pylist())
    assert by_name["ni"].null_count == tbl["ni"].null_count
    assert by_name["ns"].has_min_max  # nulls skipped, bounds over non-null
    exp_ns = [v for v in tbl["ns"].to_pylist() if v is not None]
    assert by_name["ns"].min == min(exp_ns)


def test_stats_nan_poisons_min_max(tmp_path):
    vals = np.array([1.0, np.nan, -3.5, 2.0])
    tbl = pa.table({"f": pa.array(vals)})
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression="none")
    st = pq.ParquetFile(f).metadata.row_group(0).column(0).statistics
    assert not st.has_min_max           # NaN has no total order in stats
    back = pq.read_table(f)["f"].to_pylist()
    assert back[0] == 1.0 and np.isnan(back[1]) and back[2] == -3.5


def test_long_binary_stats_omitted(tmp_path):
    tbl = pa.table({"s": pa.array(["x" * 4000, "y" * 4000])})
    f = tmp_path / "t.parquet"
    W.write_table(tbl, str(f), compression="none", encodings={"s": "plain"})
    st = pq.ParquetFile(f).metadata.row_group(0).column(0).statistics
    assert not st.has_min_max and st.null_count == 0
    assert pq.read_table(f)["s"].to_pylist() == tbl["s"].to_pylist()


def test_empty_table_and_all_null_column(tmp_path):
    tbl = pa.table({"a": pa.array([], pa.int64()),
                    "s": pa.array([], pa.string())})
    f = tmp_path / "e.parquet"
    W.write_table(tbl, str(f), compression="snappy")
    back = pq.read_table(f)
    assert back.num_rows == 0 and back.column_names == ["a", "s"]

    tbl2 = pa.table({"a": pa.array([None, None, None], pa.int64()),
                     "k": pa.array([1, 2, 3], pa.int64())})
    f2 = tmp_path / "n.parquet"
    W.write_table(tbl2, str(f2), compression="zstd")
    _assert_tables_equal(tbl2, pq.read_table(f2))
    st = pq.ParquetFile(f2).metadata.row_group(0).column(0).statistics
    assert st.null_count == 3 and not st.has_min_max


def test_single_value_dictionary(tmp_path):
    tbl = pa.table({"k": pa.array(["same"] * 1000)})
    f = tmp_path / "one.parquet"
    W.write_table(tbl, str(f), compression="none")
    md = pq.ParquetFile(f).metadata.row_group(0).column(0)
    assert "RLE_DICTIONARY" in md.encodings
    _assert_tables_equal(tbl, pq.read_table(f))


def test_multi_row_group_pruning_in_duckdb(tmp_path):
    """Row-group stats written by the engine actually prune scans in an
    external engine: a selective filter on a sorted column touches one
    row group (DuckDB's EXPLAIN ANALYZE row-group counters)."""
    import duckdb

    n = 40_000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                    "v": pa.array(np.arange(n, dtype=np.float64))})
    f = str(tmp_path / "rg.parquet")
    W.write_table(tbl, f, compression="snappy", row_group_rows=10_000)
    assert pq.ParquetFile(f).metadata.num_row_groups == 4
    con = duckdb.connect()
    got = con.execute(
        f"SELECT count(*) FROM '{f}' WHERE k BETWEEN 35000 AND 35009"
    ).fetchone()[0]
    assert got == 10
    # value proof that bounds are per-row-group exact
    md = pq.ParquetFile(f).metadata
    for g in range(4):
        st = md.row_group(g).column(0).statistics
        assert st.min == g * 10_000 and st.max == g * 10_000 + 9_999


def test_spark_jvm_reads_engine_files(spark, tmp_path):
    """Spark's vectorized JVM reader decodes engine-written files —
    types, nulls, dict/delta pages, zstd blocks (the pq_writer_roundtrip
    gate query runs this same chain over lineitem)."""
    tbl = _mixed_table(6000).drop_columns(["fx"])  # Spark: no flat FLBA type
    d = str(tmp_path / "dir")
    import os

    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "part-0.parquet"),
                  compression="zstd", row_group_rows=2500, page_rows=900)
    df = spark.read.parquet(d)
    assert df.count() == tbl.num_rows
    got = {r["i64"]: r for r in df.collect()}
    exp_ni = dict(zip(tbl["i64"].to_pylist(), tbl["ni"].to_pylist()))
    exp_lo = dict(zip(tbl["i64"].to_pylist(), tbl["lo"].to_pylist()))
    for k, r in got.items():
        assert r["ni"] == exp_ni[k] and r["lo"] == exp_lo[k]
    # filter pushdown over engine-written stats returns exact rows
    lo, hi = sorted(tbl["i64"].to_pylist())[100], sorted(tbl["i64"].to_pylist())[200]
    cnt = df.filter(f"i64 >= {lo} AND i64 <= {hi}").count()
    assert cnt == sum(lo <= v <= hi for v in tbl["i64"].to_pylist())


def test_sink_writes_per_partition_files(spark, tmp_path):
    from parquet_go_spark.operators.parquet_sink import write_parquet_dir

    df = spark.range(0, 5000).selectExpr(
        "id", "cast(id % 7 as string) as k", "id * 1.5 as v"
    ).repartition(4)
    out = str(tmp_path / "sink")
    manifest = write_parquet_dir(df, out, compression="snappy")
    assert sum(m["rows"] for m in manifest) == 5000
    assert len(manifest) == 4
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert back.selectExpr("sum(id)").first()[0] == 5000 * 4999 // 2


def test_decimal_paths(tmp_path):
    import decimal

    D = decimal.Decimal
    small = pa.array([D("12.3"), D("-4.5"), None, D("999.9")],
                     pa.decimal128(4, 1))
    mid = pa.array([D("123456789012.345"), D("-98765.432"), D("0.001")],
                   pa.decimal128(18, 3))
    big = pa.array([D("1234567890123456789012.34"), D("-1.02")],
                   pa.decimal128(24, 2))
    for name, arr in [("small", small), ("mid", mid), ("big", big)]:
        tbl = pa.table({name: arr})
        f = tmp_path / f"{name}.parquet"
        W.write_table(tbl, str(f), compression="zstd")
        assert pq.read_table(f)[name].to_pylist() == arr.to_pylist(), name
    md = pq.ParquetFile(tmp_path / "small.parquet").metadata
    assert md.row_group(0).column(0).physical_type == "INT32"
    st = md.row_group(0).column(0).statistics
    assert st.null_count == 1
    md = pq.ParquetFile(tmp_path / "big.parquet").metadata
    assert md.row_group(0).column(0).physical_type == "FIXED_LEN_BYTE_ARRAY"


def test_decode_table_typed_matches_pyarrow(tmp_path):
    """Engine's typed table assembly (pqinterop.decode_table) on a
    pyarrow-written file: schema (logical types) and values both match
    an independent decode."""
    tbl = _mixed_table(8000).drop_columns(["fx"])
    f = str(tmp_path / "ref.parquet")
    pq.write_table(tbl, f, row_group_size=3000, data_page_size=4096)
    got = P.decode_table(f)
    ref = pq.read_table(f)
    assert got.schema.equals(ref.schema)
    for c in ref.column_names:
        assert got.column(c).to_pylist() == ref.column(c).to_pylist(), c
    # column + row-group projection
    part = P.decode_table(f, columns=["i64", "ns"], row_groups=[1])
    assert part.num_rows == 3000
    assert part.column("i64").to_pylist() == \
        ref.column("i64").to_pylist()[3000:6000]


def test_read_parquet_dir_distributed(spark, tmp_path):
    """The engine reader as a Spark source: one task per (file,
    row-group), pyarrow absent from the decode path."""
    from parquet_go_spark.operators.parquet_sink import read_parquet_dir

    tbl = _mixed_table(9000).drop_columns(["fx"])
    import os

    d = str(tmp_path / "dir")
    os.makedirs(d)
    pq.write_table(tbl.slice(0, 5000), os.path.join(d, "a.parquet"),
                   row_group_size=2000)
    pq.write_table(tbl.slice(5000), os.path.join(d, "b.parquet"),
                   row_group_size=2000)
    df = read_parquet_dir(spark, d)
    assert df.count() == 9000
    got = sorted(r["i64"] for r in df.select("i64").collect())
    assert got == sorted(tbl["i64"].to_pylist())
    cols = read_parquet_dir(spark, d, columns=["lo", "ni"])
    assert cols.columns == ["lo", "ni"]
    assert cols.filter("ni IS NULL").count() == tbl["ni"].null_count


def _list_table(n=5000):
    rng = _rng()
    rows = []
    for i in range(n):
        if i % 13 == 0:
            rows.append(None)
        elif i % 17 == 0:
            rows.append([])
        else:
            rows.append([None if (i + j) % 23 == 0
                         else float(np.float32(rng.normal()))
                         for j in range(int(rng.integers(1, 9)))])
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(rows, pa.list_(pa.float32())),
        "tags": pa.array([[f"t{j}" for j in range(i % 4)]
                          for i in range(n)], pa.list_(pa.string())),
        "toks": pa.array([[int(x) for x in _rng().integers(0, 50000, i % 6)]
                          for i in range(n)], pa.list_(pa.int32())),
    })


def test_list_write_roundtrips_all_readers(tmp_path):
    """3-level LIST encoding (rep/def streams) written by the engine:
    null rows, empty lists, null elements, pages split on row
    boundaries, multiple row groups — decoded by pyarrow, DuckDB, and
    the engine's own Dremel reassembly."""
    import duckdb

    tbl = _list_table(5000)
    f = str(tmp_path / "l.parquet")
    W.write_table(tbl, f, compression="zstd", row_group_rows=1700,
                  page_rows=450)
    back = pq.read_table(f)
    for c in tbl.column_names:
        assert back.column(c).to_pylist() == tbl.column(c).to_pylist(), c
    con = duckdb.connect()
    n, s = con.execute(
        f"SELECT count(*), sum(len(tags)) FROM '{f}'").fetchone()
    assert n == 5000 and s == sum(i % 4 for i in range(5000))
    t2 = P.decode_table(f)
    assert t2.schema.equals(back.schema)
    assert t2.column("embedding").to_pylist() == \
        tbl.column("embedding").to_pylist()
    assert t2.column("toks").to_pylist() == tbl.column("toks").to_pylist()


def test_engine_reads_pyarrow_lists_and_vice_versa(tmp_path):
    """Cross-writer: pyarrow-written lists decoded by the engine (small
    pages, dict + non-dict), engine-written lists decoded by pyarrow —
    and the REAL embeddings testdata file both ways."""
    tbl = _list_table(4000)
    f = str(tmp_path / "ref.parquet")
    pq.write_table(tbl, f, row_group_size=1500, data_page_size=2048)
    got = P.decode_table(f)
    assert got.column("embedding").to_pylist() == \
        tbl.column("embedding").to_pylist()
    assert got.column("tags").cast(tbl.schema.field("tags").type) \
        .to_pylist() == tbl.column("tags").to_pylist()

    real = "/root/testdata/sf0.001/embeddings.parquet"
    eng = P.decode_table(real)
    ref = pq.read_table(real)
    assert eng.schema.equals(ref.schema)
    for c in ref.column_names:
        assert eng.column(c).to_pylist() == ref.column(c).to_pylist(), c
    f2 = str(tmp_path / "rt.parquet")
    W.write_table(ref, f2, compression="snappy")
    back = pq.read_table(f2)
    for c in ref.column_names:
        assert back.column(c).to_pylist() == ref.column(c).to_pylist(), c


def test_spark_reads_engine_lists(spark, tmp_path):
    import os

    tbl = _list_table(3000)
    d = str(tmp_path / "dir")
    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "p.parquet"), compression="zstd")
    df = spark.read.parquet(d)
    assert df.count() == 3000
    got = {r["vec_id"]: r["toks"] for r in
           df.select("vec_id", "toks").collect()}
    exp = dict(zip(tbl["vec_id"].to_pylist(), tbl["toks"].to_pylist()))
    assert got == exp
    s = df.selectExpr("sum(size(tags)) as s").first()["s"]
    assert s == sum(i % 4 for i in range(3000))


def test_bloom_filters_engine_written(tmp_path):
    """Spec SBBF blooms written by the engine: membership exact for
    present values, low false-positive rate for absent; the carrying
    file still parses everywhere (pyarrow + DuckDB)."""
    import duckdb

    n = 20000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64) * 7 + 3),
        "s": pa.array([f"user-{i * 13 % 50021}" for i in range(n)]),
        "i32c": pa.array((np.arange(n) * 11 % 99991).astype(np.int32)),
        "toks": pa.array([[int(x) for x in _rng().integers(0, 10**6, 4)]
                          for _ in range(n)], pa.list_(pa.int64())),
    })
    f = str(tmp_path / "b.parquet")
    W.write_table(tbl, f, compression="zstd", row_group_rows=8000,
                  bloom_columns=["k", "s", "i32c", "toks"])
    assert pq.read_table(f).column("k").to_pylist() == tbl["k"].to_pylist()
    con = duckdb.connect()
    assert con.execute(f"SELECT count(*) FROM '{f}'").fetchone()[0] == n
    assert P.bloom_check(f, "k", [3, 10, 7 * 19999 + 3]).tolist() == \
        [True, True, True]
    assert P.bloom_check(
        f, "k", list(range(10**6, 10**6 + 500))).mean() < 0.02
    assert P.bloom_check(f, "s", ["user-0", "user-13"]).all()
    assert P.bloom_check(
        f, "s", [f"nouser-{i}" for i in range(500)]).mean() < 0.02
    # list columns bloom their ELEMENTS (token-membership probes)
    some = tbl["toks"].to_pylist()[17][:2]
    assert P.bloom_check(f, "toks", some).all()
    assert P.bloom_check(
        f, "toks", list(range(10**9, 10**9 + 500))).mean() < 0.02


def test_bloom_filters_parquet_mr_read_by_engine(spark, tmp_path):
    """parquet-mr (Spark's writer) blooms decoded by the engine's SBBF
    kernel — external proof the hash input (plain-encoded value,
    xxHash64 seed 0) and block addressing match the spec. High-NDV
    columns only: parquet-mr omits blooms on fully dict-encoded
    chunks."""
    import os

    d = str(tmp_path / "mr")
    df = spark.range(0, 30000).selectExpr(
        "id * 3 as k", "concat('u-', id, '-', id * 7919) as s")
    (df.coalesce(1).write.mode("overwrite")
       .option("parquet.bloom.filter.enabled#k", "true")
       .option("parquet.bloom.filter.expected.ndv#k", "30000")
       .option("parquet.bloom.filter.enabled#s", "true")
       .option("parquet.bloom.filter.expected.ndv#s", "30000")
       .parquet(d))
    pf = [os.path.join(d, x) for x in os.listdir(d)
          if x.endswith(".parquet")][0]
    assert P.bloom_check(pf, "k", [0, 3, 29999 * 3]).tolist() == \
        [True, True, True]
    assert P.bloom_check(
        pf, "k", list(range(10**9, 10**9 + 500))).mean() < 0.02
    assert P.bloom_check(pf, "s", ["u-0-0", "u-10-79190"]).all()
    assert P.bloom_check(
        pf, "s", [f"w{i}" for i in range(500)]).mean() < 0.02


def _zfilters(chunks, col, pred):
    """``read_parquet_dir``'s conversion of one predicate tuple: Filters
    over the column's storage values."""
    from parquet_go_spark import prune

    leaf = next(c.leaf_el for c in chunks if c.top_name == col)
    return {col: [P.storage_filter(f, leaf)
                  for f in prune.from_tuple(col, pred)]}


def test_reader_prunes_row_groups(spark, tmp_path):
    """Footer stats + blooms prune (file, row-group) units driver-side;
    the exact predicate re-applies in Spark (advisory-lossless)."""
    import os

    from parquet_go_spark.operators import parquet_sink as S

    n = 40_000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "tag": pa.array([f"g{i % 5000}" for i in range(n)]),
    })
    d = str(tmp_path / "pr")
    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "p.parquet"), compression="snappy",
                  row_group_rows=10_000, bloom_columns=["k", "tag"])
    # stats prune: range filter touches one of four row groups
    from parquet_go_spark import pqinterop as PP

    pf = os.path.join(d, "p.parquet")
    meta = PP.read_footer(pf)              # footer-only driver path
    groups = PP.column_chunks(meta)
    kept = [g for g in range(4)
            if S._rg_keep(pf, groups[g], _zfilters(
                groups[g], "k", ("range", 35000, 35009)), probe=False)]
    assert kept == [3]
    # bloom prune: eq probe on a value in no row group is dropped by the
    # bloom even though stats overlap (tag strings interleave every rg)
    kept_b = [g for g in range(4)
              if S._rg_keep(pf, groups[g],
                            _zfilters(groups[g], "tag", ("eq", "nope-1")))]
    assert kept_b == []
    df = S.read_parquet_dir(spark, d, filters={"k": ("range", 35000, 35009)})
    assert df.count() == 10
    assert S.read_parquet_dir(
        spark, d, filters={"tag": ("eq", "g123")}).count() == n // 5000
    assert S.read_parquet_dir(
        spark, d, filters={"tag": ("eq", "nope-1")}).count() == 0


def test_bloom_prune_value_outside_physical_range(spark, tmp_path):
    """An eq probe that no INT32 value can equal (2**40) prunes the row
    group instead of failing to encode the probe; no stats, so the
    bloom is the only pruning layer."""
    import os

    from parquet_go_spark.operators import parquet_sink as S

    n = 5000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int32)),
                    "u": pa.array(np.arange(n, dtype=np.int64))})
    d = str(tmp_path / "ovf")
    os.makedirs(d)
    f = os.path.join(d, "p.parquet")
    W.write_table(tbl, f, bloom_columns=["k"], stats_omit=["k"])
    rg = P.column_chunks(P.read_footer(f))[0]
    assert not S._rg_keep(f, rg, _zfilters(rg, "k", ("eq", 2**40)))
    assert not S._rg_keep(f, rg, _zfilters(rg, "k", ("eq", -2**31 - 1)))
    assert S._rg_keep(f, rg, _zfilters(rg, "k", ("eq", 17)))
    assert S._rg_keep(f, rg, _zfilters(rg, "k", ("in", [2**40, 17])))
    assert S.read_parquet_dir(
        spark, d, filters={"k": ("eq", 2**40)}).count() == 0
    assert S.read_parquet_dir(
        spark, d, filters={"k": ("eq", 17)}).count() == 1


def test_migration_verbs_roundtrip(spark, tmp_path):
    """parquet -> PGS store (engine decode + pgs write) and back out to
    parquet (pgs read + engine write): both rides, values exact."""
    import os

    from parquet_go_spark.operators import parquet_sink as S

    tbl = _mixed_table(4000).drop_columns(["fx"])
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(tbl, os.path.join(src, "a.parquet"))
    store = str(tmp_path / "store")
    S.import_parquet_to_store(spark, src, store)
    back = spark.read.format("pgs").load(store)
    assert back.count() == 4000
    assert sorted(r["i64"] for r in back.select("i64").collect()) == \
        sorted(tbl["i64"].to_pylist())
    out = str(tmp_path / "out")
    manifest = S.export_store_to_parquet(spark, store, out,
                                         compression="snappy")
    assert sum(m["rows"] for m in manifest) == 4000
    again = pq.read_table(out)
    assert sorted(again["i64"].to_pylist()) == sorted(tbl["i64"].to_pylist())
    assert sorted(x for x in again["ni"].to_pylist() if x is not None) == \
        sorted(x for x in tbl["ni"].to_pylist() if x is not None)


def _struct_table(n=3000):
    meta_t = pa.struct([
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("inner", pa.struct([("x", pa.float64())]))])
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "meta": pa.array(
            [None if i % 11 == 0 else
             {"w": int(i % 100),
              "h": None if i % 7 == 0 else int(i % 50),
              "fmt": f"f{i % 3}",
              "inner": None if i % 5 == 0 else {"x": float(i) * 0.5}}
             for i in range(n)], meta_t),
        "tail": pa.array([f"t{i}" for i in range(n)]),
    })


def test_struct_write_roundtrips_all_readers(tmp_path):
    """STRUCT trees shredded to def-level streams: nulls at the struct,
    nested struct, and field levels all survive pyarrow, DuckDB, and
    the engine's own recursive reassembly."""
    import duckdb

    tbl = _struct_table(3000)
    f = str(tmp_path / "s.parquet")
    W.write_table(tbl, f, compression="zstd", row_group_rows=1100,
                  page_rows=400)
    back = pq.read_table(f)
    for c in tbl.column_names:
        assert back[c].to_pylist() == tbl[c].to_pylist(), c
    con = duckdb.connect()
    got = con.execute(f"SELECT count(*), sum(meta.w), "
                      f"count(meta.inner.x) FROM '{f}'").fetchone()
    n = tbl.num_rows
    assert got == (n, sum(i % 100 for i in range(n) if i % 11),
                   sum(1 for i in range(n) if i % 11 and i % 5))
    t2 = P.decode_table(f)
    assert t2.schema.equals(back.schema)
    assert t2["meta"].to_pylist() == tbl["meta"].to_pylist()


def test_engine_reads_pyarrow_structs(tmp_path):
    tbl = _struct_table(2500)
    f = str(tmp_path / "ref.parquet")
    pq.write_table(tbl, f, row_group_size=900, data_page_size=1024)
    got = P.decode_table(f)
    ref = pq.read_table(f)
    assert got.schema.equals(ref.schema)
    for c in ref.column_names:
        assert got[c].to_pylist() == ref[c].to_pylist(), c


def test_spark_reads_engine_structs(spark, tmp_path):
    import os

    tbl = _struct_table(2000)
    d = str(tmp_path / "dir")
    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "p.parquet"), compression="snappy")
    df = spark.read.parquet(d)
    assert df.count() == 2000
    got = df.selectExpr("sum(meta.w) as s", "count(meta.inner.x) as c",
                        "count(meta) as m").first()
    n = 2000
    assert got["s"] == sum(i % 100 for i in range(n) if i % 11)
    assert got["c"] == sum(1 for i in range(n) if i % 11 and i % 5)
    assert got["m"] == sum(1 for i in range(n) if i % 11)


@pytest.mark.parametrize("comp", ["none", "zstd"])
def test_v2_data_pages(tmp_path, comp):
    """v2 page grammar: raw (unprefixed) level streams ahead of the
    values, per-page is_compressed flag (store-uncompressed-if-bigger
    returns in v2) — decoded by pyarrow, DuckDB, and the engine."""
    import duckdb

    rng = _rng()
    n = 6000
    tbl = pa.table({
        "i64": pa.array(np.cumsum(rng.integers(-5, 40, n)).astype(np.int64)),
        "s": pa.array([None if i % 9 == 0 else f"v{i % 77}"
                       for i in range(n)]),
        "emb": pa.array(
            [None if i % 13 == 0 else
             [float(np.float32(x)) for x in rng.normal(size=i % 5)]
             for i in range(n)], pa.list_(pa.float32())),
        "meta": _struct_table(n)["meta"],
    })
    f = str(tmp_path / "v2.parquet")
    W.write_table(tbl, f, compression=comp, row_group_rows=2500,
                  page_rows=700, page_version=2)
    back = pq.read_table(f)
    for c in tbl.column_names:
        assert back[c].to_pylist() == tbl[c].to_pylist(), c
    t2 = P.decode_table(f)
    for c in tbl.column_names:
        assert t2[c].to_pylist() == tbl[c].to_pylist(), ("self", c)
    con = duckdb.connect()
    assert con.execute(f"SELECT count(*) FROM '{f}'").fetchone()[0] == n


def test_v2_pages_spark(spark, tmp_path):
    import os

    tbl = _mixed_table(4000).drop_columns(["fx"])
    d = str(tmp_path / "v2dir")
    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "p.parquet"), compression="zstd",
                  page_version=2, page_rows=900)
    df = spark.read.parquet(d)
    assert df.count() == 4000
    assert df.selectExpr("sum(i64)").first()[0] == \
        int(np.sum(np.asarray(tbl["i64"])))
    assert df.filter("ni IS NULL").count() == tbl["ni"].null_count


def test_int96_timestamp_write(tmp_path):
    """Legacy INT96 timestamps (the reference's
    encodingwrite_plain.go:89-95 layout): physical type INT96, 12-byte
    nanos-of-day + Julian-day values from the engine's int96 kernel —
    read back by pyarrow, DuckDB, and the engine."""
    import duckdb

    n = 700
    ts = (np.arange(n) * 977_123_456).astype("datetime64[us]")
    tbl = pa.table({"ts": pa.array(ts),
                    "k": pa.array(np.arange(n, dtype=np.int64))})
    f = str(tmp_path / "i96.parquet")
    W.write_table(tbl, f, compression="snappy", int96_timestamps=True)
    md = pq.ParquetFile(f).metadata.row_group(0).column(0)
    assert str(md.physical_type) == "INT96"
    back = pq.read_table(f)
    assert back["ts"].cast(pa.timestamp("us")).to_pylist() == \
        tbl["ts"].to_pylist()
    con = duckdb.connect()
    mn, mx = con.execute(f"SELECT min(ts), max(ts) FROM '{f}'").fetchone()
    import datetime

    assert mn == datetime.datetime(1970, 1, 1)
    t2 = P.decode_table(f)
    assert t2["ts"].cast(pa.timestamp("us")).to_pylist() == \
        tbl["ts"].to_pylist()


def test_int96_spark_reads(spark, tmp_path):
    import os

    n = 400
    tbl = pa.table({"ts": pa.array(
        (np.arange(n) * 3_600_000_000 + 7).astype("datetime64[us]"))})
    d = str(tmp_path / "i96dir")
    os.makedirs(d)
    W.write_table(tbl, os.path.join(d, "p.parquet"), compression="zstd",
                  int96_timestamps=True)
    df = spark.read.parquet(d)
    assert df.count() == n
    mn = df.selectExpr("min(ts) as m").first()["m"]
    assert mn is not None


def test_small_int_float16_time_types(tmp_path, spark):
    """Spark byte/short columns (arrow int8/int16), FLOAT16, and
    TIME_MICROS through the writer and back, all referees."""
    import pyarrow.parquet as pqmod

    n = 1000
    t = pa.table({
        "b": pa.array([None if i % 9 == 0 else (i % 256) - 128
                       for i in range(n)], pa.int8()),
        "s": pa.array([(i % 60000) - 30000 for i in range(n)],
                      pa.int16()),
        "h": pa.array(np.arange(n, dtype=np.float16) / 8),
        "t": pa.array([i * 1000 for i in range(n)], pa.time64("us")),
        "t32": pa.array([None if i % 11 == 0 else i * 10
                         for i in range(n)], pa.time32("ms")),
    })
    p = str(tmp_path / "x.parquet")
    W.write_table(t, p, page_rows=200)
    assert pqmod.read_table(p).to_pydict() == t.to_pydict()
    from parquet_go_spark import pqinterop as P

    assert P.decode_table(p).to_pydict() == t.to_pydict()
    p2 = str(tmp_path / "pa.parquet")
    pqmod.write_table(t, p2)
    assert P.decode_table(p2).to_pydict() == t.to_pydict()
    # Spark JVM referee — its reader REJECTS the FLOAT16 logical
    # type (PARQUET_TYPE_ILLEGAL) and has no time64, so referee a
    # small-int-only file
    p3 = str(tmp_path / "ints.parquet")
    W.write_table(t.select(["b", "s"]), p3, page_rows=200)
    df = spark.read.parquet(p3)
    assert df.schema.simpleString() == "struct<b:tinyint,s:smallint>"
    got = df.agg({"s": "min", "b": "max"}).collect()[0]
    assert got["min(s)"] == -30000
    # and a Spark DataFrame with byte/short columns writes through
    # the distributed sink (the gap that motivated this)
    from parquet_go_spark.operators.parquet_sink import (
        read_parquet_dir, write_parquet_dir)

    sdf = spark.range(100).selectExpr(
        "cast(id % 100 as byte) AS b", "cast(id as short) AS s")
    out = str(tmp_path / "dir")
    write_parquet_dir(sdf.coalesce(1), out)
    back = read_parquet_dir(spark, out).orderBy("s").collect()
    assert [r["s"] for r in back] == list(range(100))


def test_timestamp_units_ms_us_ns(tmp_path):
    import pyarrow.parquet as pqmod

    from parquet_go_spark import pqinterop as P

    t = pa.table({
        "ms": pa.array([1, 2, None], pa.timestamp("ms", tz="UTC")),
        "us": pa.array([1000, 2000, 3000], pa.timestamp("us")),
        "ns": pa.array([10 ** 9, 2 * 10 ** 9, 5],
                       pa.timestamp("ns", tz="UTC")),
    })
    p = str(tmp_path / "ts.parquet")
    W.write_table(t, p)
    assert pqmod.read_table(p).to_pydict() == t.to_pydict()
    assert P.decode_table(p).to_pydict() == t.to_pydict()


def test_byte_targeted_sizing(tmp_path):
    """row_group_bytes / page_bytes size groups from an average-row
    estimate (the reference's byte-budget defaults)."""
    import pyarrow.parquet as pqmod

    from parquet_go_spark import pqinterop as P

    n = 20000
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                  "v": pa.array(np.arange(n, dtype=np.float64))})
    p = str(tmp_path / "sized.parquet")
    W.write_table(t, p, compression="none",
                  row_group_bytes=64 << 10, page_bytes=8 << 10)
    meta = P.read_footer(p)
    n_rg = len(meta[4])
    assert 4 <= n_rg <= 6                      # ~320KB raw / 64KB
    cc = P.column_chunks(meta)[0][0]
    oi = P.read_offset_index(p, cc)
    assert 7 <= len(oi) <= 9                   # ~64KB rg / 8KB pages
    assert pqmod.read_table(p).to_pydict() == t.to_pydict()


def test_logical_annotations_roundtrip(tmp_path):
    """UUID/JSON/BSON/ENUM/INTERVAL annotations (r3 verdict #3): the
    engine writes the spec ConvertedType/LogicalType pair, reads its
    own tag back as field metadata, and pyarrow's parquet schema dump
    confirms every annotation on the wire."""
    import uuid as uuidmod

    import numpy as np
    import pyarrow.parquet as pqmod

    from parquet_go_spark import interval as ival
    from parquet_go_spark import pqinterop, pqwriter

    n = 50
    idx = np.arange(n)
    t = pa.table({
        "u": pa.array([uuidmod.uuid5(uuidmod.NAMESPACE_URL, str(i)).bytes
                       for i in range(n)], pa.binary(16)),
        "j": pa.array([f'{{"k":{i}}}' for i in range(n)]),
        "bs": pa.array([bytes([i % 256]) * 3 for i in range(n)],
                       pa.binary()),
        "e": pa.array(["A", "B"][:1] * n),
        "iv": ival.pack_interval(idx % 24, idx % 31, idx * 7 % 1000),
    })
    p = str(tmp_path / "lt.parquet")
    kinds = {"u": "uuid", "j": "json", "bs": "bson", "e": "enum",
             "iv": "interval"}
    pqwriter.write_table(t, p, logical_types=kinds)
    dump = str(pqmod.ParquetFile(p).schema)
    for ann in ("(UUID)", "(JSON)", "(BSON)", "(Enum)", "(Interval)"):
        assert ann in dump, dump
    back = pqinterop.decode_table(p)
    for col, kind in kinds.items():
        assert back.schema.field(col).metadata[b"pgs_logical"] == \
            kind.encode()
        got = back.column(col).combine_chunks()
        want = t.column(col).combine_chunks()
        assert got.cast(want.type).equals(want), col
    # shape validation: wrong width refuses loudly
    bad = pa.table({"u": pa.array([b"xx"], pa.binary())})
    try:
        pqwriter.write_table(bad, str(tmp_path / "bad.parquet"),
                             logical_types={"u": "uuid"})
        raise AssertionError("expected length validation error")
    except Exception as e:
        assert "16" in str(e) or "Invalid" in type(e).__name__


def test_size_statistics_in_footer(tmp_path):
    """SizeStatistics (ColumnMetaData 16; reference
    internal/layout/chunk.go:216-266): level histograms + unencoded
    BYTE_ARRAY bytes, chunk-aggregated; required flat numeric columns
    report nothing (the reference's nil case)."""
    import duckdb
    import pyarrow.parquet as pqmod

    from parquet_go_spark import pqinterop, pqwriter
    from parquet_go_spark.operators.parquet_sink import (
        describe_parquet_dir,
    )

    t = pa.table({
        "s": pa.array(["aa", None, "cccc", "d", None], pa.string()),
        "k": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "l": pa.array([[1, 2], None, [], [3, None, 4], [5]],
                      pa.list_(pa.int64())),
    })
    p = str(tmp_path / "ss.parquet")
    pqwriter.write_table(t, p)
    meta = pqinterop.read_footer(p)
    by_name = {b".".join(cc[3][3]).decode(): cc[3].get(16)
               for cc in meta[4][0][1]}
    assert by_name["s"] == {1: 7, 3: [2, 3]}          # aa+cccc+d
    assert by_name["k"] is None                       # required flat
    assert by_name["l.list.item"] == {2: [5, 3], 3: [1, 1, 1, 5]}
    # histograms are consistent: def hist sums to level count,
    # rep hist [n_records, n_continuations]
    assert sum(by_name["l.list.item"][3]) == 8
    # external referees still read the file
    assert pqmod.read_table(p).to_pylist() == t.to_pylist()
    con = duckdb.connect()
    assert con.execute(
        f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0] == 5
    # footer-only describe surfaces the unencoded payload size
    d = describe_parquet_dir(p)
    assert d["columns"]["s"]["unencoded_bytes"] == 7


def test_page_index_level_histograms(tmp_path):
    """Per-page level histograms + unencoded bytes in the PageIndex
    (ColumnIndex 6/7, OffsetIndex 2; reference writer/pages.go:297-300
    flattens per-page the same way): page entries must sum to the
    chunk SizeStatistics exactly."""
    import numpy as np

    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({
        "s": pa.array([None if i % 7 == 0 else f"v{i % 19}"
                       for i in range(1000)], pa.string()),
        "l": pa.array([[i, i + 1] if i % 5 else None
                       for i in range(1000)], pa.list_(pa.int64())),
    })
    p = str(tmp_path / "h.parquet")
    pqwriter.write_table(t, p, page_rows=256)
    meta = pqinterop.read_footer(p)
    data = open(p, "rb").read()
    ccs = pqinterop.column_chunks(meta)[0]
    s_cc, l_cc = ccs[0], ccs[1]
    s_md, l_md = meta[4][0][1][0][3], meta[4][0][1][1][3]
    ci_s, _ = pqinterop._read_struct(memoryview(data), s_cc.ci_off)
    oi_s, _ = pqinterop._read_struct(memoryview(data), s_cc.oi_off)
    assert np.array(ci_s[7]).reshape(-1, 2).sum(0).tolist() == \
        s_md[16][3]
    assert sum(oi_s[2]) == s_md[16][1]
    ci_l, _ = pqinterop._read_struct(memoryview(data), l_cc.ci_off)
    assert np.array(ci_l[6]).reshape(-1, 2).sum(0).tolist() == \
        l_md[16][2]
    assert np.array(ci_l[7]).reshape(-1, 4).sum(0).tolist() == \
        l_md[16][3]
    # null rows (def 0) across pages match the data
    assert np.array(ci_l[7]).reshape(-1, 4).sum(0)[0] == 200


def test_legacy_minmax_and_stats_omit(tmp_path):
    """PARQUET-251: deprecated min/max (Statistics 1/2) ride along for
    SIGNED sort orders only; stats_omit suppresses Statistics per
    column (the reference's omitstats tag)."""
    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({
        "k": pa.array(range(50), pa.int64()),
        "f": pa.array([i / 2 for i in range(50)], pa.float64()),
        "s": pa.array([f"x{i}" for i in range(50)]),
        "big": pa.array([[1] * 4] * 50, pa.list_(pa.int64())),
    })
    p = str(tmp_path / "lm.parquet")
    pqwriter.write_table(t, p, stats_omit={"big"})
    meta = pqinterop.read_footer(p)
    by = {b".".join(cc[3][3]).decode(): cc[3].get(12)
          for cc in meta[4][0][1]}
    assert sorted(by["k"].keys()) == [1, 2, 3, 5, 6, 7, 8]
    assert by["k"][1] == by["k"][5] and by["k"][2] == by["k"][6]
    assert by["k"][7] is True and by["k"][8] is True   # exact-or-absent
    assert sorted(by["f"].keys()) == [1, 2, 3, 5, 6, 7, 8]
    # unsigned lexical order: legacy fields OMITTED
    assert sorted(by["s"].keys()) == [3, 5, 6, 7, 8]
    assert by["big.list.item"] is None


def test_crc_read_modes(tmp_path):
    """reader CRC policy parity (reference WithCRCMode): auto
    validates-when-present, strict requires, ignore skips."""
    import pyarrow.parquet as pqmod

    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({"k": pa.array(range(100), pa.int64())})
    p1 = str(tmp_path / "crc.parquet")      # engine: CRCs present
    pqwriter.write_table(t, p1)
    p2 = str(tmp_path / "nocrc.parquet")    # pyarrow: no page CRCs
    pqmod.write_table(t, p2)
    try:
        assert pqinterop.decode_table(p1).num_rows == 100
        pqinterop.CRC_MODE = "strict"
        assert pqinterop.decode_table(p1).num_rows == 100
        with pytest.raises(ValueError, match="without CRC"):
            pqinterop.decode_table(p2)
        pqinterop.CRC_MODE = "ignore"
        assert pqinterop.decode_table(p2).num_rows == 100
    finally:
        pqinterop.CRC_MODE = "auto"
    assert pqinterop.decode_table(p2).num_rows == 100


def test_crc_mode_parameter_overrides_global(tmp_path):
    """crc_mode is a per-read decode_table parameter (ADVICE r4: the
    mutable module global leaked policy across concurrent readers);
    the global survives only as the default."""
    import pyarrow.parquet as pqmod

    from parquet_go_spark import pqinterop

    t = pa.table({"k": pa.array(range(100), pa.int64())})
    p2 = str(tmp_path / "nocrc.parquet")    # pyarrow: no page CRCs
    pqmod.write_table(t, p2)
    assert pqinterop.CRC_MODE == "auto"     # global untouched throughout
    with pytest.raises(ValueError, match="without CRC"):
        pqinterop.decode_table(p2, crc_mode="strict")
    assert pqinterop.decode_table(p2, crc_mode="ignore").num_rows == 100
    assert pqinterop.decode_table(p2).num_rows == 100   # default auto
    with pytest.raises(ValueError, match="crc_mode"):
        pqinterop.decode_table(p2, crc_mode="bogus")
    assert pqinterop.CRC_MODE == "auto"


def test_encryption_algorithm_union_strict():
    """EncryptionAlgorithm is a thrift union: a malformed footer
    declaring BOTH AES_GCM_V1 and AES_GCM_CTR_V1 must refuse (ADVICE
    r4: it used to take GCM AAD metadata while CTR-decrypting sealed
    bodies into unauthenticated garbage), and a present-but-empty
    field 1 must produce the clean unsupported error, not a KeyError."""
    from parquet_go_spark.pqinterop import _parse_encryption_algorithm

    gcm_meta = {1: b"", 2: b"fileaad"}
    meta, ctr = _parse_encryption_algorithm({1: gcm_meta})
    assert meta is gcm_meta and ctr is False
    meta, ctr = _parse_encryption_algorithm({2: gcm_meta})
    assert meta is gcm_meta and ctr is True
    with pytest.raises(ValueError, match="both"):
        _parse_encryption_algorithm({1: gcm_meta, 2: gcm_meta})
    with pytest.raises(ValueError, match="unsupported"):
        _parse_encryption_algorithm({})
    with pytest.raises(ValueError, match="unsupported"):
        _parse_encryption_algorithm({3: gcm_meta})


def test_nulls_in_one_row_group_only(tmp_path):
    """Optionality is a COLUMN property: a null-free row group of a
    with-nulls column must still write def-level streams (review
    finding — the per-chunk decision corrupted multi-group files:
    pyarrow read them as 'corrupt data page')."""
    import duckdb

    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({
        "v": pa.array([None] * 10 + list(range(10, 20000)), pa.int64()),
        "s": pa.array([None] * 3 + [f"x{i}" for i in range(3, 20000)]),
    })
    p = str(tmp_path / "m.parquet")
    pqwriter.write_table(t, p, row_group_rows=5000)
    assert pq.read_table(p).to_pylist() == t.to_pylist()
    assert P.decode_table(p).to_pylist() == t.to_pylist()
    assert duckdb.sql(
        f"SELECT count(v) FROM '{p}'").fetchall()[0][0] == 19990


def test_stats_omit_silences_column_index_too(tmp_path):
    """stats_omit suppresses the per-page ColumnIndex bounds as well —
    otherwise exact min/max leak (and get computed) through the
    PageIndex (review finding)."""
    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({"s": pa.array([f"x{i}" for i in range(2000)]),
                  "k": pa.array(range(2000), pa.int64())})
    p = str(tmp_path / "o.parquet")
    pqwriter.write_table(t, p, page_rows=500, stats_omit={"s"})
    ccs = pqinterop.column_chunks(pqinterop.read_footer(p))[0]
    s_cc = next(c for c in ccs if c.name == "s")
    k_cc = next(c for c in ccs if c.name == "k")
    assert s_cc.ci_off is None          # no ColumnIndex for omitted col
    assert s_cc.oi_off is not None      # OffsetIndex (locations) stays
    assert k_cc.ci_off is not None


def test_exactness_flags_absent_without_bounds(tmp_path):
    """is_min/max_value_exact must describe WRITTEN bounds: >128 B
    binary bounds are omitted entirely, so the flags are too (review
    finding)."""
    from parquet_go_spark import pqinterop, pqwriter

    t = pa.table({"b": pa.array([b"x" * 300, b"a" * 200, None],
                                pa.binary())})
    p = str(tmp_path / "big.parquet")
    pqwriter.write_table(t, p)
    st = pqinterop.read_footer(p)[4][0][1][0][3][12]
    assert sorted(st.keys()) == [3]     # null_count only


def test_compression_levels_change_bytes(tmp_path):
    """The reference's compression=ZSTD:3 per-column level tag
    (common/tag.go:97-110, shared per-(codec,level) compressors
    writer/writer.go:282-318): a higher level must shrink the file and
    every reader (engine + pyarrow) must still agree on the values."""
    import pyarrow.parquet as pqmod

    import os

    rng = np.random.default_rng(7)
    words = np.array(["alpha", "bravo", "charlie", "delta", "echo"])
    text = pa.array(
        [" ".join(words[rng.integers(0, 5, 30)]) for _ in range(4000)])
    t = pa.table({"k": pa.array(range(4000), pa.int64()), "text": text})
    sizes = {}
    for spec in ("gzip:1", "gzip:9", "zstd:1", "zstd:19"):
        p = str(tmp_path / f"{spec.replace(':', '_')}.parquet")
        W.write_table(t, p, compression=spec,
                      encodings={"text": "plain"})
        sizes[spec] = os.path.getsize(p)
        assert P.decode_table(p).to_pydict() == t.to_pydict()
        assert pqmod.read_table(p).to_pydict() == t.to_pydict()
    assert sizes["gzip:9"] < sizes["gzip:1"]
    assert sizes["zstd:19"] < sizes["zstd:1"]


def test_per_column_compression_overrides(tmp_path):
    """compressions={col: spec} overrides the file-level codec per
    column chunk; the footer must record the per-chunk codec id."""
    import pyarrow.parquet as pqmod

    t = pa.table({
        "a": pa.array(range(5000), pa.int64()),
        "b": pa.array(["x" * (i % 97) for i in range(5000)]),
    })
    p = str(tmp_path / "mixed.parquet")
    W.write_table(t, p, compression="snappy",
                  compressions={"b": "zstd:6"})
    md = pqmod.ParquetFile(p).metadata.row_group(0)
    codecs = {md.column(i).path_in_schema: md.column(i).compression
              for i in range(md.num_columns)}
    assert codecs["a"] == "SNAPPY" and codecs["b"] == "ZSTD"
    assert P.decode_table(p).to_pydict() == t.to_pydict()
    assert pqmod.read_table(p).to_pydict() == t.to_pydict()
    with pytest.raises(ValueError, match="unknown column"):
        W.write_table(t, str(tmp_path / "x.parquet"),
                      compressions={"nope": "zstd:3"})
    with pytest.raises(ValueError, match="does not take a level"):
        W.write_table(t, str(tmp_path / "y.parquet"),
                      compression="snappy:3")
    with pytest.raises(ValueError, match="bad compression level"):
        W.write_table(t, str(tmp_path / "z.parquet"),
                      compression="zstd:max")


def test_bloomfiltersize_declared(tmp_path):
    """The reference's bloomfiltersize tag (common/tag.go:74-78): an
    explicit bitset size overrides NDV sizing, rounded up to a
    power-of-two block count; parquet-mr/pyarrow still probe it."""
    t = pa.table({"k": pa.array(range(5000), pa.int64())})
    fa = str(tmp_path / "auto.parquet")
    fb = str(tmp_path / "sized.parquet")
    W.write_table(t, fa, bloom_columns=["k"])
    W.write_table(t, fb, bloom_columns=["k"], bloom_sizes={"k": 65536})
    ca = P.column_chunks(P.read_footer(fa))[0][0]
    cb = P.column_chunks(P.read_footer(fb))[0][0]
    assert cb.bloom_length > ca.bloom_length
    assert cb.bloom_length >= 65536
    from parquet_go_spark import bloom as B
    bf = B.SplitBlockBloom.with_bytes(65536)
    assert bf.words.shape[0] * 32 == 65536
    got = pq.read_table(fb)
    assert got.to_pydict() == t.to_pydict()


def test_schema_decl_bloomfiltersize():
    from parquet_go_spark.schema_decl import parse_csv_metadata

    decl = parse_csv_metadata(
        ["name=k, type=INT64, bloomfilter=true, bloomfiltersize=4096"])
    assert decl.bloom_columns == ["k"]
    assert decl.bloom_sizes == {"k": 4096}
    assert decl.writer_kwargs()["bloom_sizes"] == {"k": 4096}
