"""GEOMETRY logical type + GeospatialStatistics in REAL parquet
footers (r3 verdict #6; reference internal/layout/chunk.go:124-173
folds the same bbox into chunk metadata)."""

import numpy as np
import pyarrow as pa

from parquet_go_spark import geo, pqinterop, pqwriter
from parquet_go_spark.operators import parquet_sink as psk


def _points_table(n=1000):
    x = np.arange(n, dtype=np.float64)
    y = (x * 3) % 251
    return pa.table({
        "k": pa.array(range(n), pa.int64()),
        "g": geo.wkb_points(x, y).cast(pa.binary()),
    }), x, y


def test_footer_carries_geo_stats_and_prunes(tmp_path):
    t, x, y = _points_table()
    p = str(tmp_path / "geo.parquet")
    pqwriter.write_table(t, p, row_group_rows=250,
                         logical_types={"g": "geometry"})
    meta = pqinterop.read_footer(p)
    assert len(meta[4]) == 4
    for gi, rg in enumerate(meta[4]):
        cc = next(c for c in rg[1]
                  if b".".join(c[3][3]) == b"g")[3]
        gs = cc[17]
        bb = gs[1]
        lo, hi = gi * 250, gi * 250 + 249
        assert bb[1] == float(lo) and bb[2] == float(hi)   # xmin/xmax
        assert gs[2] == [1]                                # POINT
        assert 12 not in cc      # GEOMETRY: no min/max Statistics
    # schema annotation surfaces on read
    out = pqinterop.decode_table(p)
    assert out.schema.field("g").metadata[b"pgs_logical"] == b"geometry"
    assert out.column("g").to_pylist() == t.column("g").to_pylist()
    # unit pruning: only the second row group intersects x in [300,400]
    pred = ("bbox", 300.0, 0.0, 400.0, 300.0)
    keeps = [psk._rg_bbox_keep(chunks, "g", pred)
             for chunks in pqinterop.column_chunks(meta)]
    assert keeps == [False, True, False, False]


def test_bbox_pruning_beside_a_column_key(spark, tmp_path):
    """Another column sealed with its own key: the geometry column's
    bbox still prunes, read from the decrypted chunk infos. A geometry
    chunk the reader holds no key for keeps its row group."""
    from parquet_go_spark.pqcrypt import Decrypt, Encrypt

    t, x, y = _points_table()
    kf, kc = bytes(range(16)), bytes(range(16, 32))
    d = tmp_path / "sealed"
    d.mkdir()
    p = str(d / "geo.parquet")
    pqwriter.write_table(
        t, p, row_group_rows=250, logical_types={"g": "geometry"},
        encryption=Encrypt(footer_key=kf, column_keys={"k": (kc, b"")}))
    pred = ("bbox", 300.0, 0.0, 400.0, 300.0)
    full = Decrypt(footer_key=kf, column_keys={"k": kc})
    meta, ctx = pqinterop.read_footer_ex(p, full)
    assert [psk._rg_bbox_keep(chunks, "g", pred)
            for chunks in pqinterop.column_chunks(meta, ctx)] \
        == [False, True, False, False]
    df = psk.read_parquet_dir(spark, str(d), columns=["k"],
                              filters={"g": pred}, decryption=full)
    assert sorted(r["k"] for r in df.collect()) == [
        i for i in range(1000) if 300 <= x[i] <= 400 and y[i] <= 300]

    # the geometry column sealed, its key not held: nothing prunes
    pqwriter.write_table(
        t, p, row_group_rows=250, logical_types={"g": "geometry"},
        encryption=Encrypt(footer_key=kf, column_keys={"g": (kc, b"")}))
    meta, ctx = pqinterop.read_footer_ex(p, Decrypt(footer_key=kf))
    groups = pqinterop.column_chunks(meta, ctx)
    assert [c.key_missing for c in groups[0]] == [False, True]
    assert all(psk._rg_bbox_keep(chunks, "g", pred) for chunks in groups)


def test_bbox_mask_exact_general_wkb():
    x = np.array([1.0, 5.0, 9.0])
    y = np.array([1.0, 5.0, 9.0])
    arr = geo.wkb_points(x, y).cast(pa.binary())
    m = geo.bbox_mask(arr, 2.0, 2.0, 6.0, 6.0)
    assert m.tolist() == [False, True, False]
    # nulls are excluded; mixed/non-point WKB falls back to the walker
    vals = arr.to_pylist()
    import struct

    # linestring (type 2) from (0,0) to (3,3): bbox intersects window
    ls = (b"\x01" + struct.pack("<I", 2) + struct.pack("<I", 2)
          + struct.pack("<dddd", 0.0, 0.0, 3.0, 3.0))
    mixed = pa.array([vals[0], None, ls], pa.binary())
    m2 = geo.bbox_mask(mixed, 2.0, 2.0, 6.0, 6.0)
    assert m2.tolist() == [False, False, True]


def test_read_parquet_dir_bbox_filter(spark, tmp_path):
    t, x, y = _points_table(600)
    d = tmp_path / "geodir"
    d.mkdir()
    pqwriter.write_table(t, str(d / "a.parquet"), row_group_rows=200,
                         logical_types={"g": "geometry"})
    df = psk.read_parquet_dir(
        spark, str(d), columns=["k"],
        filters={"g": ("bbox", 100.0, 0.0, 120.0, 100.0)})
    got = sorted(r["k"] for r in df.collect())
    want = [i for i in range(600)
            if 100 <= x[i] <= 120 and 0 <= y[i] <= 100]
    assert got == want


def test_geo_crs_and_algorithm_roundtrip(tmp_path):
    """GeometryType/GeographyType parameters (reference
    types/geospatial.go: optional CRS, geography edge-interpolation
    algorithm) roundtrip through the logical annotation; DuckDB is
    the external referee for GEOMETRY files (pyarrow 16's thrift
    predates the geo types)."""
    import duckdb

    x = np.arange(6, dtype=np.float64)
    t = pa.table({"g": geo.wkb_points(x, x * 2).cast(pa.binary()),
                  "k": pa.array(range(6), pa.int64())})
    p1 = str(tmp_path / "geom.parquet")
    pqwriter.write_table(t, p1, logical_types={
        "g": {"kind": "geometry", "crs": "EPSG:3857"}})
    f1 = pqinterop.decode_table(p1).schema.field("g")
    assert f1.metadata[b"pgs_logical"] == b"geometry"
    assert f1.metadata[b"pgs_geo_crs"] == b"EPSG:3857"
    assert duckdb.sql(
        f"SELECT count(*) FROM '{p1}'").fetchall()[0][0] == 6

    p2 = str(tmp_path / "geog.parquet")
    pqwriter.write_table(t, p2, logical_types={
        "g": {"kind": "geography", "crs": "EPSG:4326",
              "algorithm": "karney"}})
    f2 = pqinterop.decode_table(p2).schema.field("g")
    assert f2.metadata[b"pgs_logical"] == b"geography"
    assert f2.metadata[b"pgs_geo_crs"] == b"EPSG:4326"
    assert f2.metadata[b"pgs_geo_algorithm"] == b"karney"
    # unknown algorithm refuses loudly
    try:
        pqwriter.write_table(t, str(tmp_path / "x.parquet"),
                             logical_types={"g": {
                                 "kind": "geography",
                                 "algorithm": "flatearth"}})
        raise AssertionError("expected algorithm validation")
    except ValueError as e:
        assert "algorithm" in str(e)


def test_render_json_modes():
    """marshal.ConvertToJSONFriendly parity: hex / base64 / geojson /
    hybrid rendering of a WKB column, invalid WKB falls back to the
    wkb_hex wrapper."""
    import base64
    import json

    x = np.array([1.5, 2.0])
    y = np.array([3.25, 4.0])
    pts = geo.wkb_points(x, y).cast(pa.binary())
    arr = pa.array(pts.to_pylist() + [None, b"\x01\x99garbage"],
                   pa.binary())
    hx = geo.render_json(arr, "hex").to_pylist()
    assert hx[0] == bytes(pts[0].as_py()).hex().upper()
    assert hx[2] is None
    b64 = geo.render_json(arr, "base64").to_pylist()
    assert base64.b64decode(b64[1]) == bytes(pts[1].as_py())
    gj = [None if s is None else json.loads(s)
          for s in geo.render_json(arr, "geojson").to_pylist()]
    assert gj[0] == {"type": "Point", "coordinates": [1.5, 3.25]}
    assert "wkb_hex" in gj[3]          # invalid WKB -> wrapper
    feat = json.loads(geo.render_json(arr, "geojson",
                                      feature=True).to_pylist()[0])
    assert feat["type"] == "Feature" and \
        feat["geometry"]["type"] == "Point"
    hy = json.loads(geo.render_json(arr, "hybrid").to_pylist()[0])
    assert hy["type"] == "Point" and "wkb_hex" in hy
    hyb = json.loads(geo.render_json(
        arr, "hybrid", hybrid_raw_base64=True).to_pylist()[0])
    assert "wkb_base64" in hyb
