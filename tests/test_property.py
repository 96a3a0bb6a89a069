"""Property-based roundtrip tests (hypothesis) — the analog of the
reference's per-decoder fuzz harnesses (AGENTS.md:30-42, Fuzz* targets):
random typed arrays, with nulls and boundary values, must roundtrip
bit-identically through every auto-selected codec path, and malformed
frames must raise, never crash or return garbage."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from parquet_go_spark import chunk

_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _roundtrip(arr: pa.Array):
    for compression in ("zstd", None):
        blob, _ = chunk.encode_chunk(arr, codec="auto", compression=compression)
        out = chunk.decode_chunk(blob)
        if out.type != arr.type:
            out = out.cast(arr.type)
        assert out.equals(arr), f"{arr.type} roundtrip mismatch"


@given(
    st.lists(
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)), max_size=300
    )
)
@settings(**_SETTINGS)
def test_int32_any(vals):
    _roundtrip(pa.array(vals, type=pa.int32()))


@given(
    st.lists(
        st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)), max_size=300
    )
)
@settings(**_SETTINGS)
def test_int64_any(vals):
    _roundtrip(pa.array(vals, type=pa.int64()))


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, width=64),
            st.just(float("inf")),
            st.just(float("-inf")),
        ),
        max_size=200,
    )
)
@settings(**_SETTINGS)
def test_float64_any(vals):
    _roundtrip(pa.array(vals, type=pa.float64()))


def _spark_key(x):
    """Spark's float order: NaN equals NaN and is greatest, ±inf are
    ordinary values."""
    return (1, 0.0) if isinstance(x, float) and x != x else (0, x)


def _matches(x, f) -> bool:
    """Does a row holding ``x`` (None = SQL NULL) satisfy ``f`` under
    Spark semantics?"""
    if isinstance(f, IsNull) or (
            isinstance(f, EqualNullSafe) and f.value is None):
        return x is None
    if x is None:
        return False
    if isinstance(f, IsNotNull):
        return True
    if isinstance(f, StringStartsWith):
        return x.startswith(f.value)
    k = _spark_key(x)
    if isinstance(f, In):
        return any(k == _spark_key(v) for v in f.value if v is not None)
    v = _spark_key(f.value)
    if isinstance(f, (EqualTo, EqualNullSafe)):
        return k == v
    if isinstance(f, GreaterThan):
        return k > v
    if isinstance(f, GreaterThanOrEqual):
        return k >= v
    if isinstance(f, LessThan):
        return k < v
    return k <= v


def _assert_zones_one_sided(vals: list, typ: pa.DataType, f) -> None:
    """Write ``vals`` as a column every way the engine prunes it — a
    paged PGS chunk (bounds rendered as the manifest strings the encode
    job writes), a pyarrow file and an engine-written file (row-group
    stats, ColumnIndex pages, dictionaries, blooms) — and check that
    every zone the pruning rules drop holds no row matching ``f``."""
    import json
    import os
    import tempfile

    import pyarrow.parquet as pq

    from parquet_go_spark import pqinterop as P
    from parquet_go_spark import pqwriter
    from parquet_go_spark.operators.encode_job import _pages_json
    from parquet_go_spark.operators.parquet_sink import _rg_keep
    from parquet_go_spark.sources.pgs_datasource import _manifest_keep

    arr = pa.array(vals, type=typ)

    def assert_none_match(lo, hi, where):
        bad = [x for x in vals[lo:hi] if _matches(x, f)]
        assert not bad, f"{where} rows {lo}:{hi} dropped by {f}: {bad}"

    _, stats = chunk.encode_chunk_paged(arr, page_rows=4)
    whole = json.loads(_pages_json([{
        "first_row": 0, "count": len(vals),
        "vmin": stats.get("min"), "vmax": stats.get("max")}]))[0]
    if not _manifest_keep(f, whole["lo"], whole["hi"],
                          stats["null_count"], stats["count"]):
        assert_none_match(0, len(vals), "pgs chunk")
    for p in json.loads(_pages_json(stats["pages"])):
        if not _manifest_keep(f, p["lo"], p["hi"]):
            assert_none_match(p["r"], p["r"] + p["n"], "pgs page")

    tbl = pa.table({"c": arr})
    bloom = pa.types.is_integer(typ) or pa.types.is_string(typ)
    with tempfile.TemporaryDirectory() as d:
        files = {"pyarrow": os.path.join(d, "pa.parquet"),
                 "engine": os.path.join(d, "engine.parquet")}
        pq.write_table(tbl, files["pyarrow"], row_group_size=8,
                       data_page_size=1, write_batch_size=4,
                       write_page_index=True)
        pqwriter.write_table(tbl, files["engine"], row_group_rows=8,
                             page_rows=4,
                             bloom_columns=["c"] if bloom else None)
        for who, path in files.items():
            meta = P.read_footer(path)
            start = 0
            for g, chunks in enumerate(P.column_chunks(meta)):
                n = meta[4][g][3]
                zf = {"c": [P.storage_filter(f, chunks[0].leaf_el)]}
                if not _rg_keep(path, chunks, zf):
                    assert_none_match(start, start + n, f"{who} rg {g}")
                ranges, pruned = P.page_row_ranges(path, chunks, zf)
                if pruned:
                    kept = {i for lo, hi in ranges for i in range(lo, hi)}
                    for i in set(range(n)) - kept:
                        assert_none_match(start + i, start + i + 1,
                                          f"{who} rg {g} page")
                start += n


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(width=64),  # NaN and infinities included
        ),
        min_size=1,
        max_size=50,
    ),
    st.floats(width=64),
    st.sampled_from(["eq", "gt", "ge", "lt", "le", "in"]),
)
@settings(**_SETTINGS)
def test_float_stats_pruning_lossless(vals, fval, op):
    """If a pruning rule drops a zone, NO row of it may satisfy the
    filter under Spark float semantics (NaN greatest, NaN = NaN true,
    ±inf in-band): PGS bounds folded by the chunk encoder with NaN
    inside, parquet bounds with NaN left out."""
    fcls = {
        "eq": EqualTo, "gt": GreaterThan, "ge": GreaterThanOrEqual,
        "lt": LessThan, "le": LessThanOrEqual, "in": In,
    }[op]
    f = fcls(("c",), (fval, 0.25) if op == "in" else fval)
    _assert_zones_one_sided(vals, pa.float64(), f)


_COLUMNS = {
    "int": (pa.int64(), st.one_of(
        st.integers(-40, 40), st.integers(-(2**63), 2**63 - 1))),
    "string": (pa.string(), st.one_of(
        st.text(max_size=6),
        st.text(min_size=60, max_size=120),     # truncated bounds
        st.sampled_from(["", "a", "ab", "b\u00e9", "\U0001f600"]))),
    "decimal": (pa.decimal128(12, 2), st.decimals(
        -10**6, 10**6, places=2)),
}


def _filters(kind: str, value):
    """Random Spark Filters on column ``c``; decimal filter values may be
    finer than the column's scale."""
    if kind == "decimal":
        value = st.one_of(value, st.decimals(-10**6, 10**6, places=3))
    ops = [EqualTo, EqualNullSafe, GreaterThan, GreaterThanOrEqual,
           LessThan, LessThanOrEqual]
    out = [st.builds(op, st.just(("c",)), value) for op in ops]
    out += [
        st.builds(EqualNullSafe, st.just(("c",)), st.none()),
        st.builds(In, st.just(("c",)), st.lists(
            st.one_of(st.none(), value), min_size=1, max_size=4
        ).map(tuple)),
        st.just(IsNull(("c",))),
        st.just(IsNotNull(("c",))),
    ]
    if kind == "string":
        out.append(st.builds(StringStartsWith, st.just(("c",)),
                             st.text(min_size=1, max_size=3)))
    return st.one_of(out)


@pytest.mark.parametrize("kind", sorted(_COLUMNS))
@given(data=st.data())
@settings(**_SETTINGS)
def test_zone_pruning_lossless(kind, data):
    """The one-sided guarantee of ``prune.keep`` on int, string (unicode,
    bounds truncated past 64 bytes) and decimal columns with nulls, for
    every zone of both stores: a dropped zone holds no matching row."""
    typ, value = _COLUMNS[kind]
    vals = data.draw(st.lists(st.one_of(st.none(), value),
                              min_size=1, max_size=40))
    _assert_zones_one_sided(vals, typ, data.draw(_filters(kind, value)))


@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=40), st.just(""), st.just("\x00")),
        max_size=200,
    )
)
@settings(**_SETTINGS)
def test_string_any(vals):
    _roundtrip(pa.array(vals, type=pa.utf8()))


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.integers(-(2**31), 2**31 - 1), max_size=50),
        ),
        max_size=100,
    )
)
@settings(**_SETTINGS)
def test_token_lists_any(vals):
    _roundtrip(pa.array(vals, type=pa.list_(pa.int32())))


@given(st.binary(min_size=0, max_size=400), st.integers(0, 3))
@settings(max_examples=60, deadline=None)
def test_malformed_frames_never_crash(junk, mode):
    """Random bytes, truncations, and bit flips of valid frames must raise
    ValueError (or decode to the exact original), never segfault/garble."""
    base, _ = chunk.encode_chunk(
        pa.array([1, 2, 3, 4, 5], type=pa.int32()), codec="auto",
        compression="zstd",
    )
    if mode == 0:
        buf = junk
    elif mode == 1:
        buf = base[: len(junk) % max(len(base), 1)]
    elif mode == 2:
        k = len(junk) % max(len(base), 1)
        flip = bytearray(base)
        flip[k] ^= 0xFF
        buf = bytes(flip)
    else:
        buf = base + junk
    try:
        out = chunk.decode_chunk(buf)
        # only acceptable success: the unmodified payload semantics
        assert out.cast(pa.int32()).equals(pa.array([1, 2, 3, 4, 5], pa.int32()))
    except (ValueError, NotImplementedError):
        pass


@given(
    st.lists(st.integers(-500, 500), min_size=0, max_size=400),
    st.integers(0, 3),
    st.data(),
)
@settings(**_SETTINGS)
def test_rans_fuzz_roundtrip_and_mutation(vals, _salt, data):
    """Valid blobs roundtrip; mutated blobs raise ValueError, never crash
    (the reference's Fuzz* decoder harness norm, AGENTS.md:30-42)."""
    from parquet_go_spark.codecs import rans

    arr = np.asarray(vals, dtype=np.int64)
    blob = rans.encode_ints(arr)
    assert np.array_equal(rans.decode_ints(blob), arr)
    if len(blob) > 0:
        pos = data.draw(st.integers(0, len(blob) - 1))
        bit = data.draw(st.integers(0, 7))
        mutated = bytearray(blob)
        mutated[pos] ^= 1 << bit
        try:
            out = rans.decode_ints(bytes(mutated))
            # A surviving decode must keep the element count — except when
            # the flip landed inside the header's n field (bytes 8..15 of
            # `<BBHIQqII`): the count exists ONLY there (an rANS stream
            # carries no redundancy about it — decoding fewer symbols, or
            # more from a degenerate single-symbol table, is structurally
            # valid), so that one field is undetectable at codec level.
            # Integrity there is the frame layer's CRC, which covers every
            # real read path (frame.py).
            if not (8 <= pos < 16):
                assert len(out) == len(arr)
        except (ValueError, OverflowError):
            pass


@given(st.binary(max_size=200))
@settings(**_SETTINGS)
def test_wkb_to_geojson_total(b):
    # The GeoJSON converter is a logical boundary fed by decoded column
    # bytes: arbitrary input must yield a dict or None, never an
    # exception (the reference's ok=false contract,
    # types/geospatial_wkb.go:145-188).
    from parquet_go_spark import geo

    out = geo.wkb_to_geojson(b)
    assert out is None or isinstance(out, dict)


@given(st.binary(min_size=5, max_size=200))
@settings(**_SETTINGS)
def test_wkb_to_geojson_point_prefix(b):
    # Any buffer that starts as a valid LE point header converts its
    # first 16 payload bytes; garbage after a complete geometry is
    # tolerated by the reference (it stops at the parsed geometry).
    from parquet_go_spark import geo

    buf = b"\x01\x01\x00\x00\x00" + b[5:]
    out = geo.wkb_to_geojson(buf)
    if len(buf) >= 21:
        assert out is None or out["type"] == "Point"
    else:
        assert out is None
