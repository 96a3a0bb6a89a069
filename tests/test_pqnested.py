"""Arbitrary nesting through real Parquet interop, both directions.

General Dremel: the writer shreds any arrow type tree (lists / maps /
structs composed freely) into per-leaf rep/def streams with a
vectorized recursive walk (the reference's reflection marshal,
/root/reference/marshal/marshal.go:53-375, re-expressed over arrow);
the reader reassembles records over the level-annotated SchemaElement
tree with the same vectorized walk in reverse (one path for every
list, map and struct column). External referees: pyarrow + DuckDB +
Spark read engine-written nested files; the engine reads
pyarrow-written ones.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark import pqinterop as P
from parquet_go_spark import pqwriter


def _nested_table(n=2000, seed=2):
    rng = np.random.default_rng(seed)

    def ll(i):
        if i % 13 == 0:
            return None
        return [None if (i + j) % 7 == 0 else
                rng.integers(0, 100, (i + j) % 4).tolist()
                for j in range(i % 4)]

    def ls(i):
        if i % 11 == 0:
            return None
        return [None if (i + j) % 6 == 0 else
                {"a": int(i + j), "b": None if (i + j) % 5 == 0
                 else f"s{j}"} for j in range(i % 3)]

    def sl(i):
        if i % 9 == 0:
            return None
        return {"x": i, "y": None if i % 8 == 0 else
                [float(j) for j in range(i % 5)]}

    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "ll": pa.array([ll(i) for i in range(n)],
                       pa.list_(pa.list_(pa.int64()))),
        "ls": pa.array([ls(i) for i in range(n)],
                       pa.list_(pa.struct([("a", pa.int64()),
                                           ("b", pa.string())]))),
        "sl": pa.array([sl(i) for i in range(n)],
                       pa.struct([("x", pa.int64()),
                                  ("y", pa.list_(pa.float64()))])),
    })


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    d = tmp_path_factory.mktemp("pqnested")
    t = _nested_table()
    p = str(d / "nested.parquet")
    pqwriter.write_table(t, p, compression="zstd", page_rows=300)
    return p, t


def _eq(a, b, cols):
    for c in cols:
        assert a.column(c).to_pylist() == b.column(c).to_pylist(), c


def test_pyarrow_reads_engine_nested(written):
    path, t = written
    _eq(pq.read_table(path), t, t.column_names)


def test_duckdb_reads_engine_nested(written):
    import duckdb

    path, t = written
    n, s = duckdb.sql(
        f"SELECT count(*), sum(len(ll)) FROM '{path}'").fetchall()[0]
    assert n == t.num_rows
    assert s == sum(len(v) for v in t.column("ll").to_pylist()
                    if v is not None)


def test_engine_reads_own_nested(written):
    path, t = written
    _eq(P.decode_table(path), t, t.column_names)


def test_engine_reads_pyarrow_nested(tmp_path):
    t = _nested_table(seed=7)
    p = str(tmp_path / "pa.parquet")
    pq.write_table(t, p, data_page_size=4096)
    _eq(P.decode_table(p), t, t.column_names)


def test_three_level_lists_and_list_of_map(tmp_path):
    rng = np.random.default_rng(3)
    n = 600

    def lll(i):
        if i % 17 == 0:
            return None
        return [None if (i + j) % 9 == 0 else
                [[int(x) for x in rng.integers(0, 9, (i + j + k) % 3)]
                 for k in range((i + j) % 3)]
                for j in range(i % 3)]

    def lm(i):
        if i % 15 == 0:
            return None
        return [None if (i + j) % 8 == 0 else
                {f"k{x}": int(i + x) for x in range((i + j) % 3)}
                for j in range(i % 3)]

    t = pa.table({
        "lll": pa.array([lll(i) for i in range(n)],
                        pa.list_(pa.list_(pa.list_(pa.int64())))),
        "lm": pa.array([lm(i) for i in range(n)],
                       pa.list_(pa.map_(pa.string(), pa.int64()))),
    })
    p = str(tmp_path / "deep.parquet")
    pqwriter.write_table(t, p, page_rows=150)
    got = pq.read_table(p)
    assert got.column("lll").to_pylist() == t.column("lll").to_pylist()
    # map entries come back as lists of (k, v) tuples
    want_lm = [None if v is None else
               [None if m is None else sorted(dict(m).items())
                for m in v]
               for v in t.column("lm").to_pylist()]
    got_lm = [None if v is None else
              [None if m is None else sorted(dict(m).items()) for m in v]
              for v in got.column("lm").to_pylist()]
    assert got_lm == want_lm
    own = P.decode_table(p)
    assert own.column("lll").to_pylist() == t.column("lll").to_pylist()
    own_lm = [None if v is None else
              [None if m is None else sorted(dict(m).items()) for m in v]
              for v in own.column("lm").to_pylist()]
    assert own_lm == want_lm


def test_map_with_list_values(tmp_path):
    rows = [None if i % 10 == 0 else
            {f"k{j}": (None if (i + j) % 6 == 0 else
                       list(range((i + j) % 4)))
             for j in range(i % 3)}
            for i in range(800)]
    t = pa.table({"m": pa.array(
        rows, pa.map_(pa.string(), pa.list_(pa.int64())))})
    p = str(tmp_path / "mlv.parquet")
    pqwriter.write_table(t, p, page_rows=100)

    def norm(tbl):
        return [None if v is None else sorted(dict(v).items())
                for v in tbl.column("m").to_pylist()]
    assert norm(pq.read_table(p)) == norm(t)
    assert norm(P.decode_table(p)) == norm(t)


def test_struct_of_struct_with_list(tmp_path):
    rows = [None if i % 7 == 0 else
            {"inner": None if i % 5 == 0 else
             {"v": None if i % 4 == 0 else [f"w{i % 3}"] * (i % 3),
              "n": i},
             "z": float(i)}
            for i in range(900)]
    typ = pa.struct([
        ("inner", pa.struct([("v", pa.list_(pa.string())),
                             ("n", pa.int64())])),
        ("z", pa.float64())])
    t = pa.table({"s": pa.array(rows, typ)})
    p = str(tmp_path / "ssl.parquet")
    pqwriter.write_table(t, p, page_rows=200)
    assert pq.read_table(p).column("s").to_pylist() == \
        t.column("s").to_pylist()
    assert P.decode_table(p).column("s").to_pylist() == \
        t.column("s").to_pylist()


@pytest.mark.parametrize("page_version", [1, 2])
def test_zero_row_nested_columns(tmp_path, monkeypatch, page_version):
    """A zero-row file of list / map / struct columns reads back; so does
    one whose 0-value v1 pages carry no level sections at all (the
    writer emitted none for an empty level stream before)."""
    t = pa.table({
        "l": pa.array([], pa.list_(pa.int32())),
        "m": pa.array([], pa.map_(pa.string(), pa.int64())),
        "s": pa.array([], pa.struct([("a", pa.int32()),
                                     ("b", pa.list_(pa.string()))])),
    })
    p = str(tmp_path / "empty.parquet")
    pqwriter.write_table(t, p, page_version=page_version)
    assert pq.read_table(p).num_rows == 0
    assert P.decode_table(p).to_pylist() == []
    emit = pqwriter._emit_data_page

    def emit_without_empty_levels(out, codec_id, version, enc_id, n_ent,
                                  n_rows, n_nulls, rep_raw, def_raw,
                                  values, pc=None):
        return emit(out, codec_id, version, enc_id, n_ent, n_rows,
                    n_nulls, rep_raw or None, def_raw or None, values, pc)

    monkeypatch.setattr(pqwriter, "_emit_data_page",
                        emit_without_empty_levels)
    old = str(tmp_path / "old.parquet")
    pqwriter.write_table(t, old, page_version=page_version)
    assert P.decode_table(old).to_pylist() == []


def test_required_struct_of_required_leaves(tmp_path):
    """max_def 0 leaves under a required struct carry no definition
    levels at all (no level stream, no histograms)."""
    typ = pa.struct([pa.field("a", pa.int32(), False),
                     pa.field("b", pa.string(), False)])
    t = pa.table({"s": pa.array([{"a": i, "b": f"b{i}"}
                                 for i in range(500)], typ)},
                 schema=pa.schema([pa.field("s", typ, False)]))
    p = str(tmp_path / "req.parquet")
    pqwriter.write_table(t, p, page_rows=100)
    assert pq.read_table(p).to_pylist() == t.to_pylist()
    assert P.decode_table(p).to_pylist() == t.to_pylist()


def test_assembly_frees_level_streams(tmp_path):
    """The decoded rep/def streams of a row group are garbage as soon
    as its column is assembled: with the cycle collector off, memory
    kept after decoding is about the result, not one stream set per
    row group."""
    import gc
    import tracemalloc

    rng = np.random.default_rng(4)
    n, groups = 2000, 6
    lens = rng.integers(20, 60, n * groups)
    offs = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    t = pa.table({"tokens": pa.ListArray.from_arrays(
        pa.array(offs), pa.array(rng.integers(0, 9, int(offs[-1]))
                                 .astype(np.int32)))})
    p = str(tmp_path / "tok.parquet")
    pqwriter.write_table(t, p, row_group_rows=n)
    P.decode_table(p)                       # warm imports and caches
    gc.collect()
    gc.disable()
    tracemalloc.start()
    try:
        got = P.decode_table(p)
        kept, _ = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
        gc.enable()
    assert got.column("tokens").to_pylist() == t.column("tokens").to_pylist()
    # levels are int64 per entry: a leak keeps >= 16 bytes per entry
    assert kept < 2 * got.nbytes + (1 << 20), (kept, got.nbytes)


def _rand_type(rng, depth):
    prims = [pa.int64(), pa.int32(), pa.float64(), pa.string(),
             pa.bool_()]
    if depth <= 0 or rng.random() < 0.35:
        return prims[rng.integers(0, len(prims))]
    k = rng.integers(0, 3)
    if k == 0:
        return pa.list_(_rand_type(rng, depth - 1))
    if k == 1:
        return pa.struct([(f"f{j}", _rand_type(rng, depth - 1))
                          for j in range(rng.integers(1, 4))])
    return pa.map_(pa.string(), _rand_type(rng, depth - 1))


def _rand_value(rng, t, depth=0):
    if depth > 0 and rng.random() < 0.15:
        return None
    if pa.types.is_list(t):
        return [_rand_value(rng, t.value_type, depth + 1)
                for _ in range(rng.integers(0, 4))]
    if pa.types.is_map(t):
        return {f"k{j}": _rand_value(rng, t.item_type, depth + 1)
                for j in range(rng.integers(0, 4))}
    if pa.types.is_struct(t):
        return {f.name: _rand_value(rng, f.type, depth + 1) for f in t}
    if pa.types.is_int64(t) or pa.types.is_int32(t):
        return int(rng.integers(-1000, 1000))
    if pa.types.is_float64(t):
        return float(rng.normal())
    if pa.types.is_string(t):
        return f"v{int(rng.integers(0, 50))}"
    return bool(rng.random() < 0.5)


def _canon(v):
    if isinstance(v, list) and v and isinstance(v[0], tuple):
        return sorted((k, _canon(x)) for k, x in v)
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return v


def test_random_nested_roundtrip(tmp_path):
    """15 random deep-nested schemas: engine write -> engine decode
    AND pyarrow decode must match the source."""
    for trial in range(15):
        rng = np.random.default_rng(500 + trial)
        typ = _rand_type(rng, 3)
        while not pa.types.is_nested(typ):
            typ = _rand_type(rng, 3)
        n = int(rng.integers(1, 400))
        vals = [_rand_value(rng, typ) if rng.random() > 0.1 else None
                for _ in range(n)]
        t = pa.table({"c": pa.array(vals, typ)})
        p = str(tmp_path / f"r{trial}.parquet")
        pqwriter.write_table(
            t, p, page_rows=int(rng.integers(20, 120)),
            compression=str(rng.choice(["none", "zstd", "snappy"])),
            page_version=int(rng.choice([1, 2])))
        want = [_canon(v) for v in t.column("c").to_pylist()]
        got_pa = [_canon(v) for v in
                  pq.read_table(p).column("c").to_pylist()]
        assert got_pa == want, f"trial {trial}: pyarrow mismatch"
        got_own = [_canon(v) for v in
                   P.decode_table(p).column("c").to_pylist()]
        assert got_own == want, f"trial {trial}: self mismatch"


@pytest.mark.parametrize("compliant", [True, False])
def test_random_nested_pyarrow_written(tmp_path, compliant):
    """The other direction: random deep-nested tables written by
    pyarrow (compliant and legacy nested naming, several row groups,
    small pages) decode through the engine in full and with random
    per-row-group ``row_ranges``."""
    for trial in range(12):
        rng = np.random.default_rng(900 + trial + 50 * compliant)
        typ = _rand_type(rng, 3)
        while not pa.types.is_nested(typ):
            typ = _rand_type(rng, 3)
        n = int(rng.integers(1, 400))
        vals = [_rand_value(rng, typ) if rng.random() > 0.1 else None
                for _ in range(n)]
        t = pa.table({"c": pa.array(vals, typ)})
        p = str(tmp_path / f"pa{trial}.parquet")
        rg_rows = int(rng.integers(20, 200))
        pq.write_table(t, p, row_group_size=rg_rows,
                       data_page_size=int(rng.integers(64, 2048)),
                       use_compliant_nested_type=compliant,
                       compression=str(rng.choice(["none", "zstd"])))
        want = [_canon(v) for v in t.column("c").to_pylist()]
        got = [_canon(v) for v in P.decode_table(p).column("c").to_pylist()]
        assert got == want, f"trial {trial}: full decode mismatch"
        ranges, keep = {}, []
        for gi, lo in enumerate(range(0, n, rg_rows)):
            m = min(rg_rows, n - lo)
            cuts = np.sort(rng.integers(0, m + 1, 4))
            ranges[gi] = [(int(a), int(b)) for a, b in
                          ((cuts[0], cuts[1]), (cuts[2], cuts[3]))]
            keep += [lo + i for a, b in ranges[gi] for i in range(a, b)]
        got = P.decode_table(p, row_ranges=ranges).column("c").to_pylist()
        assert [_canon(v) for v in got] == [want[i] for i in keep], \
            f"trial {trial}: row_ranges mismatch"


def test_logical_annotation_on_nested_leaves(tmp_path):
    """A UUID list element and a UUID member of a struct that also
    holds a list keep their annotation in the written schema."""
    import uuid

    u16 = pa.binary(16)
    md = {b"pgs_logical": b"uuid"}
    n = 300
    t = pa.table({
        "ul": pa.array([[uuid.UUID(int=7 * i + j).bytes
                         for j in range(i % 3)] for i in range(n)],
                       pa.list_(pa.field("element", u16, metadata=md))),
        "s": pa.array([None if i % 9 == 0 else
                       {"id": uuid.UUID(int=i).bytes, "l": [i] * (i % 2)}
                       for i in range(n)],
                      pa.struct([pa.field("id", u16, metadata=md),
                                 pa.field("l", pa.list_(pa.int32()))])),
    })
    p = str(tmp_path / "uuid.parquet")
    pqwriter.write_table(t, p, page_rows=100)
    sch = pq.ParquetFile(p).schema
    logical = {sch.column(i).path: sch.column(i).logical_type.type
               for i in range(len(sch))}
    assert logical["ul.list.element"] == "UUID"
    assert logical["s.id"] == "UUID"
    back = P.decode_table(p)
    assert back.to_pylist() == t.to_pylist()
    assert back.schema.field("s").type.field("id").metadata == md
    assert pq.read_table(p).to_pylist() == t.to_pylist()


def test_spark_reads_engine_nested(spark, written):
    path, t = written
    df = spark.read.parquet(path)
    got = (df.selectExpr("id", "size(ll) AS nl", "sl.x AS x")
           .orderBy("id").collect())
    want = [(r["id"],
             None if r["ll"] is None else len(r["ll"]),
             None if r["sl"] is None else r["sl"]["x"])
            for r in t.to_pylist()]
    assert [(r["id"], r["nl"], r["x"]) for r in got] == want
