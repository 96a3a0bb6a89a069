"""Byte stability of engine-written real parquet files.

Mirror of the golden-frame discipline (tests/golden, test_golden_frames):
each case of a fixed corpus is written with ``pqwriter.write_table`` and
the sha256 of the file is pinned. The corpus covers flat columns with
and without nulls; list, struct, map and deeper nested columns; v1 and
v2 data pages; several row groups; the page index and bloom filters.

A changed hash means the writer's output changed. Either restore the
old bytes or change the format on purpose, re-pin here, and say why in
the commit. The engine must also read every file back to its input.
"""

from __future__ import annotations

import datetime
import hashlib

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark import pqinterop as P
from parquet_go_spark import pqwriter


def _flat(nulls: bool) -> pa.Table:
    rng = np.random.default_rng(1)
    n = 3000
    ids = np.arange(n, dtype=np.int64)
    mask = (ids % 7 == 3) if nulls else None
    words = [f"w{v}" for v in rng.integers(0, 40, n)]
    if nulls:
        words = [None if m else w for w, m in zip(words, mask)]
    return pa.table({
        "id": pa.array(ids),
        "small": pa.array(rng.integers(-50, 50, n).astype(np.int32),
                          mask=mask),
        "x": pa.array(rng.normal(size=n), mask=mask),
        "flag": pa.array(rng.random(n) < 0.3, mask=mask),
        "word": pa.array(words, pa.string()),
        "day": pa.array(rng.integers(0, 20000, n).astype(np.int32),
                        mask=mask).cast(pa.date32()),
    })


def _lists() -> pa.Table:
    rng = np.random.default_rng(2)
    n = 2000
    lens = rng.integers(1, 9, n)
    offs = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    toks = pa.ListArray.from_arrays(
        pa.array(offs), pa.array(rng.integers(0, 5000, int(offs[-1]))
                                 .astype(np.int32)))

    def words(i):
        if i % 13 == 0:
            return None
        return [None if (i + j) % 5 == 0 else f"t{(i * j) % 17}"
                for j in range(i % 4)]

    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "tokens": toks,
        "words": pa.array([words(i) for i in range(n)],
                          pa.list_(pa.string())),
    })


def _structs() -> pa.Table:
    n = 2000
    rows = []
    for i in range(n):
        if i % 9 == 0:
            rows.append(None)
            continue
        rows.append({
            "a": None if i % 5 == 0 else i * 3,
            "b": f"b{i % 23}",
            "c": None if i % 7 == 0 else {
                "d": None if i % 4 == 0 else i / 8,
                "e": datetime.date(2000, 1, 1 + i % 28)},
        })
    typ = pa.struct([
        pa.field("a", pa.int32()), pa.field("b", pa.string()),
        pa.field("c", pa.struct([pa.field("d", pa.float64()),
                                 pa.field("e", pa.date32())]))])
    return pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                     "st": pa.array(rows, typ)})


def _maps() -> pa.Table:
    rng = np.random.default_rng(5)
    n = 2000
    rows = []
    for i in range(n):
        if i % 11 == 0:
            rows.append(None)
        elif i % 7 == 0:
            rows.append({})
        else:
            rows.append({f"k{j}": None if (i + j) % 5 == 0 else i * 10 + j
                         for j in range(rng.integers(1, 5))})
    return pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                     "m": pa.array(rows, pa.map_(pa.string(), pa.int64()))})


def _deep() -> pa.Table:
    n = 1500

    def ll(i):
        if i % 13 == 0:
            return None
        return [None if (i + j) % 7 == 0 else
                [(i * k) % 100 for k in range((i + j) % 4)]
                for j in range(i % 4)]

    def ls(i):
        if i % 11 == 0:
            return None
        return [None if (i + j) % 6 == 0 else
                {"a": i + j, "b": None if (i + j) % 5 == 0 else f"s{j}"}
                for j in range(i % 3)]

    def ml(i):
        if i % 10 == 0:
            return None
        return [(f"k{j}", None if (i + j) % 4 == 0 else
                 list(range(j, j + i % 3))) for j in range(i % 3)]

    return pa.table({
        "ll": pa.array([ll(i) for i in range(n)],
                       pa.list_(pa.list_(pa.int64()))),
        "ls": pa.array([ls(i) for i in range(n)], pa.list_(pa.struct([
            pa.field("a", pa.int64()), pa.field("b", pa.string())]))),
        "ml": pa.array([ml(i) for i in range(n)],
                       pa.map_(pa.string(), pa.list_(pa.int32()))),
    })


def _struct_with_list() -> pa.Table:
    n = 1500
    rows = [None if i % 8 == 0 else
            {"x": None if i % 3 == 0 else i,
             "l": None if i % 5 == 0 else list(range(i % 4))}
            for i in range(n)]
    return pa.table({"sl": pa.array(rows, pa.struct([
        pa.field("x", pa.int32()), pa.field("l", pa.list_(pa.int32()))]))})


# name -> (table builder, write_table keyword arguments)
CORPUS = {
    "flat": (lambda: _flat(False), {"compression": "zstd"}),
    "flat_nulls": (lambda: _flat(True),
                   {"compression": "none", "page_rows": 700}),
    "flat_nulls_v2": (lambda: _flat(True),
                      {"compression": "zstd", "page_version": 2,
                       "row_group_rows": 1000}),
    "lists": (_lists, {"compression": "zstd", "page_rows": 600}),
    "lists_v2": (_lists, {"compression": "none", "page_version": 2,
                          "row_group_rows": 800}),
    "structs": (_structs, {"compression": "zstd", "page_rows": 500}),
    "maps": (_maps, {"compression": "zstd", "page_rows": 500,
                     "page_version": 2}),
    "deep": (_deep, {"compression": "zstd", "page_rows": 400}),
    "deep_v2": (_deep, {"compression": "none", "page_version": 2,
                        "row_group_rows": 700}),
    # page index off: the ColumnIndex of sl.x (max_rep 0 inside a
    # struct that holds a list) dropped its all-zero repetition
    # histogram when nested writes became one path
    "struct_with_list": (_struct_with_list,
                         {"compression": "zstd", "page_index": False}),
    "pageindex_blooms": (_lists, {
        "compression": "zstd", "page_rows": 250,
        "bloom_columns": ["id", "tokens"], "sorting_columns": ["id"]}),
    "no_pageindex": (lambda: _flat(True),
                     {"compression": "zstd", "page_index": False,
                      "bloom_columns": ["word"]}),
}

# recorded before nested writes became one path; unchanged by it
PINNED = {
    "deep":
        "70445bbb4de162b49a446b6bbf650265e0501664e206661f1e82fc2c3633571b",
    "deep_v2":
        "8c378c6e997e557c1fcaf8a4a410094d1192cd3aa1cad55acedc399a0143430c",
    "flat":
        "e569349c296a10af9ba7062b87685e2f604aa2416cd7ba1f547dbd2d5a676cd1",
    "flat_nulls":
        "f43f736eb822a000cb855156d4be089607cae6befa39a9e3acbbb7b2ff8e30cb",
    "flat_nulls_v2":
        "9ec3369cfb3335821822d536bcbf87765157cf4f286923a4ecc052566d2a2738",
    "lists":
        "c6e8994a7b5b76e7bdfda94ff98c748f9878f8328683755a08e40087a68041b3",
    "lists_v2":
        "73a713fbfa4f849d32c71aeabdcdfe3e7c973c4f265cd94ea72de62fbdb780f2",
    "maps":
        "d9bdc6a72a363ff1f44c75de365a78d4942f79d1f9c2baa2f6874d2186d129b3",
    "no_pageindex":
        "578c9cd637135a73837dc6f7a88b10426824259f1431160aa0b7f322e4bb8de9",
    "pageindex_blooms":
        "1b82950dfd68fa1382795d6b60c42db160173d4d42e169ea6f403ebaf0b04c5f",
    "struct_with_list":
        "c08c03af8149ce95ccdd8c7ae5f2509122e9f903ed77725caf6eae504a6c6d03",
    "structs":
        "9d9907ff42a10f6d4f6fc59d17239b4ea54f8d648adaa5bf2aedd2600f2b20a0",
}


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_writer_bytes_pinned(name, tmp_path):
    build, kw = CORPUS[name]
    path = str(tmp_path / f"{name}.parquet")
    t = build()
    pqwriter.write_table(t, path, **kw)
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert P.decode_table(path).to_pylist() == t.to_pylist()
    assert digest == PINNED[name], (
        f"{name}: engine parquet bytes changed (sha256 {digest})")
