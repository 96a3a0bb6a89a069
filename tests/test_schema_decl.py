"""Declared-schema front end (schema_decl.py): the reference's JSON
schema-string (schema/json.go) and CSV-metadata (schema/csv.go) formats
parsed to Arrow schemas + writer knobs, and written through pqwriter."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark import pqinterop as P
from parquet_go_spark import pqwriter as W
from parquet_go_spark.schema_decl import (parse_csv_metadata,
                                          parse_json_schema, parse_tag)

README_JSON = """
{
  "Tag": "name=parquet_go_root, repetitiontype=REQUIRED",
  "Fields": [
    {"Tag": "name=name, type=BYTE_ARRAY, logicaltype=STRING, repetitiontype=REQUIRED"},
    {"Tag": "name=age, type=INT32, repetitiontype=REQUIRED"}
  ]
}
"""


def test_readme_json_schema_writes_through_pqwriter(tmp_path):
    """The reference README's own example, parsed and written."""
    decl = parse_json_schema(README_JSON)
    assert decl.schema == pa.schema([
        pa.field("name", pa.string(), False),
        pa.field("age", pa.int32(), False),
    ])
    t = pa.table({"name": pa.array(["ann", "bob", "cyd"]),
                  "age": pa.array([31, 42, 53], pa.int32())},
                 schema=decl.schema)
    f = str(tmp_path / "readme.parquet")
    W.write_table(t, f, **decl.writer_kwargs())
    assert pq.read_table(f).to_pydict() == t.to_pydict()
    assert P.decode_table(f).to_pydict() == t.to_pydict()


def test_tag_grammar_and_options():
    decl = parse_json_schema("""
    {
      "Tag": "name=root, repetitiontype=REQUIRED",
      "Fields": [
        {"Tag": "name=id, type=INT64, encoding=DELTA_BINARY_PACKED, repetitiontype=REQUIRED, bloomfilter=true"},
        {"Tag": "name=price, type=INT64, convertedtype=DECIMAL, precision=12, scale=2"},
        {"Tag": "name=blob, type=BYTE_ARRAY, omitstats=true, compression=ZSTD:3"},
        {"Tag": "name=day, type=INT32, convertedtype=DATE"},
        {"Tag": "name=ts, type=INT64, logicaltype=TIMESTAMP, logicaltype.unit=MICROS"},
        {"Tag": "name=u, type=FIXED_LEN_BYTE_ARRAY, logicaltype=UUID, length=16"},
        {"Tag": "name=iv, type=FIXED_LEN_BYTE_ARRAY, convertedtype=INTERVAL, length=12"},
        {"Tag": "name=j, type=BYTE_ARRAY, convertedtype=JSON"},
        {"Tag": "name=tags, type=LIST, repetitiontype=REQUIRED,
                 encoding=PLAIN_DICTIONARY",
         "Fields": [
            {"Tag": "name=element, type=BYTE_ARRAY, convertedtype=UTF8"}]},
        {"Tag": "name=m, type=MAP",
         "Fields": [
            {"Tag": "name=key, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"},
            {"Tag": "name=value, type=DOUBLE"}]},
        {"Tag": "name=pt, repetitiontype=REQUIRED",
         "Fields": [
            {"Tag": "name=x, type=DOUBLE, repetitiontype=REQUIRED"},
            {"Tag": "name=y, type=DOUBLE, repetitiontype=REQUIRED"}]}
      ]
    }
    """.replace(",\n                 encoding", ", encoding"))
    s = decl.schema
    assert s.field("id").type == pa.int64() and not s.field("id").nullable
    assert s.field("price").type == pa.decimal128(12, 2)
    assert s.field("day").type == pa.date32()
    assert s.field("ts").type == pa.timestamp("us")
    assert s.field("u").type == pa.binary(16)
    assert s.field("iv").type == pa.binary(12)
    assert s.field("tags").type == pa.list_(
        pa.field("element", pa.string(), True))
    assert s.field("m").type == pa.map_(pa.string(),
                                        pa.field("value", pa.float64(), True))
    assert s.field("pt").type == pa.struct(
        [pa.field("x", pa.float64(), False),
         pa.field("y", pa.float64(), False)])
    assert decl.encodings == {"id": "delta", "tags": "dict"}
    assert decl.compressions == {"blob": "zstd:3"}
    assert decl.stats_omit == {"blob"}
    assert decl.bloom_columns == ["id"]
    assert decl.logical_types == {"u": "uuid", "iv": "interval",
                                  "j": "json"}


def test_declared_options_reach_the_file(tmp_path):
    decl = parse_json_schema("""
    {
      "Tag": "name=root",
      "Fields": [
        {"Tag": "name=k, type=INT64, encoding=DELTA_BINARY_PACKED, repetitiontype=REQUIRED"},
        {"Tag": "name=s, type=BYTE_ARRAY, convertedtype=UTF8, omitstats=true"}
      ]
    }
    """)
    t = pa.table({"k": pa.array(range(3000), pa.int64()),
                  "s": pa.array([f"w{i % 9}" for i in range(3000)])},
                 schema=decl.schema)
    f = str(tmp_path / "opt.parquet")
    W.write_table(t, f, **decl.writer_kwargs())
    md = pq.ParquetFile(f).metadata.row_group(0)
    by = {md.column(i).path_in_schema: md.column(i)
          for i in range(md.num_columns)}
    assert "DELTA_BINARY_PACKED" in by["k"].encodings
    assert by["s"].statistics is None or not by["s"].statistics.has_min_max
    assert pq.read_table(f).to_pydict() == t.to_pydict()


def test_csv_metadata_format(tmp_path):
    """The README's CSV-metadata example shape."""
    decl = parse_csv_metadata([
        "name=Name, type=BYTE_ARRAY, logicaltype=STRING, encoding=PLAIN_DICTIONARY",
        "name=Age, type=INT32",
    ])
    assert decl.schema == pa.schema([
        pa.field("Name", pa.string(), True),
        pa.field("Age", pa.int32(), True)])
    assert decl.encodings == {"Name": "dict"}
    t = pa.table({"Name": pa.array(["a", "b", None]),
                  "Age": pa.array([1, None, 3], pa.int32())},
                 schema=decl.schema)
    f = str(tmp_path / "csv.parquet")
    W.write_table(t, f, **decl.writer_kwargs())
    assert pq.read_table(f).to_pydict() == t.to_pydict()


def test_declaration_errors():
    with pytest.raises(ValueError, match="unmarshal json schema"):
        parse_json_schema("{ not json ,, }")
    with pytest.raises(ValueError, match="LIST needs exactly 1"):
        parse_json_schema(
            '{"Tag": "name=r", "Fields": ['
            '{"Tag": "name=l, type=LIST", "Fields": []}]}')
    with pytest.raises(ValueError, match="MAP needs exactly 2"):
        parse_json_schema(
            '{"Tag": "name=r", "Fields": ['
            '{"Tag": "name=m, type=MAP", "Fields": ['
            '{"Tag": "name=key, type=INT32"}]}]}')
    with pytest.raises(ValueError, match="key=value"):
        parse_tag("name=a, banana")
    with pytest.raises(ValueError, match="unsupported physical type"):
        parse_csv_metadata(["name=x, type=INT128"])
    with pytest.raises(ValueError, match="unsupported encoding"):
        parse_csv_metadata(["name=x, type=INT32, encoding=WAVELET"])
    with pytest.raises(ValueError, match="DECIMAL needs precision"):
        parse_csv_metadata(["name=x, type=INT32, convertedtype=DECIMAL"])


@pytest.mark.parametrize("tag", [
    "encoding=PLAIN", "compression=ZSTD", "bloomfilter=true",
    "omitstats=true", "bloomfiltersize=1024"])
@pytest.mark.parametrize("shape", ["list", "map_key", "map_value",
                                   "struct"])
def test_writer_tags_on_nested_fields_raise(shape, tag):
    """Writer options are keyed by top-level column; on a nested field
    they would be dropped, so the declaration refuses them by name."""
    leaf = f'"name=inner, type=INT64, {tag}"'
    plain = '"name=other, type=INT64"'
    fields = {
        "list": f'"name=c, type=LIST", "Fields": [{{"Tag": {leaf}}}]',
        "map_key": (f'"name=c, type=MAP", "Fields": [{{"Tag": {leaf}}}, '
                    f'{{"Tag": {plain}}}]'),
        "map_value": (f'"name=c, type=MAP", "Fields": [{{"Tag": {plain}}}, '
                      f'{{"Tag": {leaf}}}]'),
        "struct": (f'"name=c", "Fields": [{{"Tag": {plain}}}, '
                   f'{{"Tag": {leaf}}}]'),
    }[shape]
    doc = '{"Tag": "name=r", "Fields": [{"Tag": ' + fields + '}]}'
    with pytest.raises(ValueError,
                       match=f"'inner'.*{tag.split('=')[0]}="):
        parse_json_schema(doc)
    # the same tag on the top-level column is honoured
    parse_json_schema(doc.replace(f", {tag}", "").replace(
        '"name=c', f'"{tag}, name=c'))


def test_legacy_repeated_leaf():
    decl = parse_csv_metadata(
        ["name=xs, type=INT64, repetitiontype=REPEATED"])
    assert decl.schema.field("xs").type == pa.list_(pa.int64())


def test_render_roundtrips_parse():
    """render_json_schema is parse_json_schema's inverse: declare ->
    render -> re-parse lands on the identical Arrow schema + logical
    tags, across every leaf family the grammar carries."""
    from parquet_go_spark.schema_decl import render_json_schema

    src = parse_json_schema("""
    {
      "Tag": "name=root, repetitiontype=REQUIRED",
      "Fields": [
        {"Tag": "name=b, type=BOOLEAN, repetitiontype=REQUIRED"},
        {"Tag": "name=i8, type=INT32, convertedtype=INT_8"},
        {"Tag": "name=u64, type=INT64, convertedtype=UINT_64"},
        {"Tag": "name=f, type=FLOAT"},
        {"Tag": "name=d, type=DOUBLE, repetitiontype=REQUIRED"},
        {"Tag": "name=s, type=BYTE_ARRAY, convertedtype=UTF8"},
        {"Tag": "name=raw, type=BYTE_ARRAY"},
        {"Tag": "name=fx, type=FIXED_LEN_BYTE_ARRAY, length=5"},
        {"Tag": "name=day, type=INT32, convertedtype=DATE"},
        {"Tag": "name=ts, type=INT64, logicaltype=TIMESTAMP, logicaltype.unit=MILLIS"},
        {"Tag": "name=dec, type=INT64, convertedtype=DECIMAL, precision=15, scale=3"},
        {"Tag": "name=u, type=FIXED_LEN_BYTE_ARRAY, logicaltype=UUID, length=16"},
        {"Tag": "name=j, type=BYTE_ARRAY, convertedtype=JSON"},
        {"Tag": "name=tags, type=LIST",
         "Fields": [{"Tag": "name=element, type=BYTE_ARRAY, convertedtype=UTF8"}]},
        {"Tag": "name=m, type=MAP",
         "Fields": [
           {"Tag": "name=key, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"},
           {"Tag": "name=value, type=DOUBLE"}]},
        {"Tag": "name=pt",
         "Fields": [{"Tag": "name=x, type=DOUBLE, repetitiontype=REQUIRED"},
                    {"Tag": "name=y, type=DOUBLE"}]}
      ]
    }
    """)
    text = render_json_schema(src.schema, src.logical_types)
    back = parse_json_schema(text)
    assert back.schema == src.schema
    assert back.logical_types == src.logical_types


def test_render_from_written_file(tmp_path):
    """A schema read back from engine-written bytes renders into a
    declaration that re-parses to the same types — the port-a-file-
    back-to-parquet-go direction."""
    from parquet_go_spark.schema_decl import render_json_schema

    t = pa.table({
        "k": pa.array(range(50), pa.int64()),
        "s": pa.array([f"v{i}" for i in range(50)]),
        "xs": pa.array([[1.5, 2.5]] * 50, pa.list_(pa.float64())),
    })
    f = str(tmp_path / "r.parquet")
    W.write_table(t, f)
    got = P.decode_table(f)
    decl = parse_json_schema(render_json_schema(got.schema))
    assert [x.name for x in decl.schema] == ["k", "s", "xs"]
    assert decl.schema.field("k").type == pa.int64()
    assert decl.schema.field("s").type == pa.string()
    assert pa.types.is_list(decl.schema.field("xs").type)


def test_render_parse_property():
    """Property: for randomly composed schemas over the declarable type
    grammar, parse(render(s)) == s (names, types, nullability, logical
    tags)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_go_spark.schema_decl import render_json_schema

    leaf_types = st.sampled_from([
        (pa.bool_(), None), (pa.int32(), None), (pa.int64(), None),
        (pa.int8(), None), (pa.int16(), None), (pa.uint8(), None),
        (pa.uint16(), None), (pa.uint32(), None), (pa.uint64(), None),
        (pa.float32(), None), (pa.float64(), None),
        (pa.string(), None), (pa.binary(), None), (pa.binary(7), None),
        (pa.date32(), None), (pa.timestamp("ms"), None),
        (pa.timestamp("us"), None), (pa.decimal128(9, 2), None),
        (pa.decimal128(18, 4), None), (pa.float16(), None),
        (pa.binary(16), "uuid"), (pa.binary(12), "interval"),
        (pa.string(), "json"), (pa.string(), "enum"),
        (pa.binary(), "bson"),
    ])

    def field_st(depth):
        name = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
        nullable = st.booleans()
        if depth <= 0:
            inner = leaf_types.map(lambda tl: tl[0])
        else:
            sub = field_st(depth - 1)
            inner = st.one_of(
                leaf_types.map(lambda tl: tl[0]),
                # the declaration format names list elements "element"
                st.builds(lambda f: pa.list_(
                    pa.field("element", f.type, f.nullable)), sub),
                st.builds(
                    lambda fs: pa.struct(fs),
                    st.lists(sub, min_size=1, max_size=3,
                             unique_by=lambda f: f.name)),
            )
        return st.builds(pa.field, name, inner, nullable)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(field_st(2), min_size=1, max_size=5,
                    unique_by=lambda f: f.name),
           st.data())
    def prop(fields, data):
        logical = {}
        for f in fields:
            if f.type == pa.binary(16) and data.draw(st.booleans()):
                logical[f.name] = "uuid"
        schema = pa.schema(fields)
        back = parse_json_schema(render_json_schema(schema, logical))
        assert back.schema == schema, (schema, back.schema)
        assert back.logical_types == logical

    prop()


def test_integer_and_time_logicaltype_fields():
    """logicaltype=INTEGER with .bitwidth/.issigned and TIME with
    .unit (common/logicaltype.go:100-192)."""
    decl = parse_csv_metadata([
        "name=a, type=INT32, logicaltype=INTEGER, logicaltype.bitwidth=8, logicaltype.issigned=true",
        "name=b, type=INT32, logicaltype=INTEGER, logicaltype.bitwidth=16, logicaltype.issigned=false",
        "name=c, type=INT64, logicaltype=INTEGER, logicaltype.bitwidth=64, logicaltype.issigned=false",
        "name=d, type=INT32, logicaltype=TIME, logicaltype.unit=MILLIS",
        "name=e, type=INT64, logicaltype=TIME, logicaltype.unit=MICROS",
    ])
    s = decl.schema
    assert s.field("a").type == pa.int8()
    assert s.field("b").type == pa.uint16()
    assert s.field("c").type == pa.uint64()
    assert s.field("d").type == pa.time32("ms")
    assert s.field("e").type == pa.time64("us")
    with pytest.raises(ValueError, match="bitwidth"):
        parse_csv_metadata(["name=x, type=INT32, logicaltype=INTEGER, "
                            "logicaltype.bitwidth=12"])


def test_geo_logical_declarations_roundtrip(tmp_path):
    """GEOMETRY/GEOGRAPHY declarations with CRS / edge-algorithm
    params (common/logicaltype.go:115-140): parsed to the engine's
    dict-form logical spec, written into a real footer, and rendered
    back to an identical declaration."""
    from parquet_go_spark.schema_decl import render_json_schema

    decl = parse_csv_metadata([
        "name=k, type=INT64, repetitiontype=REQUIRED",
        "name=g, type=BYTE_ARRAY, logicaltype=GEOMETRY, logicaltype.crs=EPSG:4326",
    ])
    assert decl.logical_types == {
        "g": {"kind": "geometry", "crs": "EPSG:4326"}}
    # WKB point payloads through the engine writer under the declaration
    import struct as _s
    wkb = [b"\x01\x01\x00\x00\x00" + _s.pack("<dd", float(i), float(-i))
           for i in range(20)]
    t = pa.table({"k": pa.array(range(20), pa.int64()),
                  "g": pa.array(wkb, pa.binary())}, schema=decl.schema)
    f = str(tmp_path / "geo.parquet")
    W.write_table(t, f, **decl.writer_kwargs())
    back = P.decode_table(f)
    assert back.column("g").to_pylist() == wkb
    # render∘parse identity on the declaration itself
    again = parse_json_schema(
        render_json_schema(decl.schema, decl.logical_types))
    assert again.schema == decl.schema
    assert again.logical_types == decl.logical_types


def test_nested_logical_types_reach_the_file(tmp_path):
    """``logicaltype=`` on a LIST element, MAP key/value or struct member
    becomes ``pgs_logical`` field metadata, which the writer turns into
    the annotation on that leaf."""
    import uuid

    decl = parse_json_schema(
        '{"Tag": "name=r", "Fields": ['
        '{"Tag": "name=ids, type=LIST", "Fields": [{"Tag": "name=element, '
        'type=FIXED_LEN_BYTE_ARRAY, length=16, logicaltype=UUID"}]},'
        '{"Tag": "name=m, type=MAP", "Fields": ['
        '{"Tag": "name=key, type=FIXED_LEN_BYTE_ARRAY, length=16, '
        'logicaltype=UUID, repetitiontype=REQUIRED"},'
        '{"Tag": "name=value, type=BYTE_ARRAY, logicaltype=JSON"}]},'
        '{"Tag": "name=st", "Fields": [{"Tag": "name=u, '
        'type=FIXED_LEN_BYTE_ARRAY, length=16, logicaltype=UUID"}]}]}')
    assert decl.logical_types == {}
    elem = decl.schema.field("ids").type.value_field
    assert elem.metadata == {b"pgs_logical": b"uuid"}
    u = uuid.UUID(int=7).bytes
    t = pa.table({"ids": [[u, u], None], "m": [[(u, '{"a": 1}')], []],
                  "st": [{"u": u}, None]}, schema=decl.schema)
    p = str(tmp_path / "decl.parquet")
    W.write_table(t, p, **decl.writer_kwargs())
    sch = pq.ParquetFile(p).schema
    logical = {sch.column(i).path: sch.column(i).logical_type.type
               for i in range(len(sch))}
    assert logical == {"ids.list.element": "UUID",
                       "m.key_value.key": "UUID",
                       "m.key_value.value": "JSON", "st.u": "UUID"}
    assert P.decode_table(p).to_pylist() == t.to_pylist()


def test_int96_declaration_writes_physical_int96(tmp_path):
    """``type=INT96`` reaches the file as physical INT96; a declared
    INT64 nanosecond timestamp beside it stays INT64."""
    import datetime as dt

    decl = parse_csv_metadata([
        "name=legacy, type=INT96",
        "name=modern, type=INT64, logicaltype=TIMESTAMP, "
        "logicaltype.unit=NANOS",
    ])
    assert decl.schema.field("legacy").type == pa.timestamp("ns")
    assert decl.writer_kwargs()["int96_timestamps"] == {"legacy"}
    ts = [dt.datetime(2021, 3, 4, 5, 6, 7, 891011), None]
    t = pa.table({"legacy": pa.array(ts, pa.timestamp("ns")),
                  "modern": pa.array(ts, pa.timestamp("ns"))},
                 schema=decl.schema)
    f = str(tmp_path / "int96.parquet")
    W.write_table(t, f, **decl.writer_kwargs())
    cols = pq.ParquetFile(f).metadata.row_group(0)
    assert [cols.column(i).physical_type for i in range(2)] == [
        "INT96", "INT64"]
    assert pq.read_table(f).column("legacy").to_pylist() == ts
