"""Declared-schema front end: the reference's JSON schema-string and
CSV-metadata formats parsed into an Arrow schema + engine writer knobs.

The reference declares schemas as tag strings — ``{"Tag": "name=age,
type=INT32, repetitiontype=REQUIRED", "Fields": [...]}`` JSON documents
(schema/json.go:31-206) or flat CSV metadata lines (schema/csv.go:11-46)
— whose key=value grammar (common/tag.go:31-140) also carries per-column
encoding, compression (``ZSTD:3`` levels), bloom, and omitstats options.
Spark ``StructType`` + ``sources/frontends.py`` cover the use case
natively; this module closes literal format parity so a parquet-go
schema file ports verbatim:

    decl = parse_json_schema(text)
    pqwriter.write_table(table.cast(decl.schema), path,
                         **decl.writer_kwargs())
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pyarrow as pa

# tag encoding names -> engine encodings= values (pqwriter.write_table)
_ENCODINGS = {
    "PLAIN": "plain",
    "PLAIN_DICTIONARY": "dict",
    "RLE_DICTIONARY": "dict",
    "DELTA_BINARY_PACKED": "delta",
    "DELTA_BYTE_ARRAY": "delta_ba",
    "DELTA_LENGTH_BYTE_ARRAY": "delta_length",
    "BYTE_STREAM_SPLIT": "bss",
    "RLE": "rle",
}

_INT_CONVERTED = {
    "INT_8": pa.int8(), "INT_16": pa.int16(), "INT_32": pa.int32(),
    "INT_64": pa.int64(), "UINT_8": pa.uint8(), "UINT_16": pa.uint16(),
    "UINT_32": pa.uint32(), "UINT_64": pa.uint64(),
}


@dataclass
class SchemaDecl:
    """Parsed declaration: the Arrow schema plus every writer knob the
    tag grammar can carry, ready to feed pqwriter.write_table."""

    schema: pa.Schema
    encodings: dict[str, str] = field(default_factory=dict)
    compressions: dict[str, str] = field(default_factory=dict)
    logical_types: dict[str, str] = field(default_factory=dict)
    stats_omit: set[str] = field(default_factory=set)
    bloom_columns: list[str] = field(default_factory=list)
    bloom_sizes: dict[str, int] = field(default_factory=dict)
    int96_columns: set[str] = field(default_factory=set)

    def writer_kwargs(self) -> dict:
        kw: dict = {}
        if self.encodings:
            kw["encodings"] = dict(self.encodings)
        if self.compressions:
            kw["compressions"] = dict(self.compressions)
        if self.logical_types:
            kw["logical_types"] = dict(self.logical_types)
        if self.stats_omit:
            kw["stats_omit"] = set(self.stats_omit)
        if self.bloom_columns:
            kw["bloom_columns"] = list(self.bloom_columns)
        if self.bloom_sizes:
            kw["bloom_sizes"] = dict(self.bloom_sizes)
        if self.int96_columns:
            kw["int96_timestamps"] = set(self.int96_columns)
        return kw


def parse_tag(tag: str) -> dict[str, str]:
    """``"name=age, type=INT32, repetitiontype=REQUIRED"`` -> dict.
    The reference strips tabs and splits on commas then '='
    (common/tag.go StringToTag)."""
    out: dict[str, str] = {}
    for part in tag.replace("\t", "").split(","):
        part = part.strip()
        if not part:
            continue
        k, sep, v = part.partition("=")
        if not sep:
            raise ValueError(f"expect 'key=value' but got {part!r}")
        out[k.strip().lower()] = v.strip()
    return out


def _leaf_type(t: dict[str, str]) -> tuple[pa.DataType, str | None]:
    """(arrow type, engine logical tag|None) for one leaf tag."""
    ptype = t.get("type", "").upper()
    conv = t.get("convertedtype", "").upper()
    lt = t.get("logicaltype", "").upper()
    unit = (t.get("logicaltype.unit", "").upper()
            .replace("MILLIS", "ms").replace("MICROS", "us")
            .replace("NANOS", "ns"))
    length = int(t.get("length", 0))

    def _dec() -> pa.DataType:
        prec = int(t.get("precision", t.get("logicaltype.precision", 0)))
        scale = int(t.get("scale", t.get("logicaltype.scale", 0)))
        if not prec:
            raise ValueError("DECIMAL needs precision")
        return pa.decimal128(prec, scale)

    if ptype == "BOOLEAN":
        return pa.bool_(), None
    def _int_logical(default):
        # logicaltype=INTEGER with logicaltype.bitwidth/.issigned
        # (common/logicaltype.go:183-192)
        bw = int(t.get("logicaltype.bitwidth", 0))
        signed = t.get("logicaltype.issigned", "true").lower() != "false"
        if not bw:
            return default
        try:
            return {(8, True): pa.int8(), (16, True): pa.int16(),
                    (32, True): pa.int32(), (64, True): pa.int64(),
                    (8, False): pa.uint8(), (16, False): pa.uint16(),
                    (32, False): pa.uint32(), (64, False): pa.uint64(),
                    }[(bw, signed)]
        except KeyError:
            raise ValueError(
                f"bad logicaltype.bitwidth {bw}") from None

    if ptype == "INT32":
        if conv == "DATE" or lt == "DATE":
            return pa.date32(), None
        if conv == "TIME_MILLIS" or (lt == "TIME" and unit == "ms"):
            return pa.time32("ms"), None
        if conv == "DECIMAL" or lt == "DECIMAL":
            return _dec(), None
        if lt == "INTEGER":
            return _int_logical(pa.int32()), None
        if conv in _INT_CONVERTED:
            return _INT_CONVERTED[conv], None
        return pa.int32(), None
    if ptype == "INT64":
        if conv == "TIMESTAMP_MILLIS":
            return pa.timestamp("ms"), None
        if conv == "TIMESTAMP_MICROS":
            return pa.timestamp("us"), None
        if lt == "TIMESTAMP":
            return pa.timestamp(unit or "us"), None
        if conv == "TIME_MICROS" or lt == "TIME":
            return pa.time64(unit or "us"), None
        if conv == "DECIMAL" or lt == "DECIMAL":
            return _dec(), None
        if lt == "INTEGER":
            return _int_logical(pa.int64()), None
        if conv in _INT_CONVERTED:
            return _INT_CONVERTED[conv], None
        return pa.int64(), None
    if ptype == "INT96":
        return pa.timestamp("ns"), None
    if ptype == "FLOAT":
        return pa.float32(), None
    if ptype == "DOUBLE":
        return pa.float64(), None
    if ptype == "BYTE_ARRAY":
        if lt in ("GEOMETRY", "GEOGRAPHY"):
            # geospatial annotations with CRS / edge algorithm params
            # (common/logicaltype.go:115-140)
            spec: dict = {"kind": lt.lower()}
            if t.get("logicaltype.crs"):
                spec["crs"] = t["logicaltype.crs"]
            if t.get("logicaltype.algorithm"):
                spec["algorithm"] = t["logicaltype.algorithm"]
            return pa.binary(), spec
        if conv == "UTF8" or lt == "STRING":
            return pa.string(), None
        if conv == "JSON" or lt == "JSON":
            return pa.string(), "json"
        if conv == "ENUM" or lt == "ENUM":
            return pa.string(), "enum"
        if conv == "BSON" or lt == "BSON":
            return pa.binary(), "bson"
        if conv == "DECIMAL" or lt == "DECIMAL":
            return _dec(), None
        return pa.binary(), None
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        if lt == "UUID":
            return pa.binary(16), "uuid"
        if conv == "INTERVAL":
            return pa.binary(12), "interval"
        if lt == "FLOAT16":
            return pa.float16(), None
        if conv == "DECIMAL" or lt == "DECIMAL":
            return _dec(), None
        if not length:
            raise ValueError("FIXED_LEN_BYTE_ARRAY needs length")
        return pa.binary(length), None
    raise ValueError(f"unsupported physical type {ptype!r}")


# per-column writer options (_collect_options)
_WRITER_TAGS = ("encoding", "compression", "omitstats", "bloomfilter",
                "bloomfiltersize")


def _collect_options(name: str, t: dict[str, str],
                     decl: SchemaDecl) -> None:
    enc = t.get("encoding", "").upper()
    if enc:
        if enc not in _ENCODINGS:
            raise ValueError(f"unsupported encoding {enc!r}")
        decl.encodings[name] = _ENCODINGS[enc]
    comp = t.get("compression", "")
    if comp:
        decl.compressions[name] = comp.lower()
    if t.get("omitstats", "").lower() == "true":
        decl.stats_omit.add(name)
    if t.get("bloomfilter", "").lower() == "true":
        decl.bloom_columns.append(name)
    bfs = t.get("bloomfiltersize", "")
    if bfs:
        decl.bloom_sizes[name] = int(bfs)


def _field_of(item: dict, decl: SchemaDecl, top: bool) -> pa.Field:
    t = parse_tag(item.get("Tag", ""))
    name = t.get("name")
    if not name:
        raise ValueError("tag missing name=")
    rep = t.get("repetitiontype", "OPTIONAL").upper()
    nullable = rep != "REQUIRED"
    ptype = t.get("type", "").upper()
    fields = item.get("Fields") or []
    md = None

    if ptype == "LIST":
        if len(fields) != 1:
            raise ValueError(
                f"LIST needs exactly 1 field to define element type, "
                f"got {len(fields)}")
        elem = _field_of(fields[0], decl, top=False)
        typ: pa.DataType = pa.list_(elem)
    elif ptype == "MAP":
        if len(fields) != 2:
            raise ValueError(
                f"MAP needs exactly 2 fields to define key/value types, "
                f"got {len(fields)}")
        k = _field_of(fields[0], decl, top=False)
        v = _field_of(fields[1], decl, top=False)
        typ = pa.map_(k.with_nullable(False), v)
    elif not ptype:                                   # struct group
        if not fields:
            raise ValueError(f"group {name!r} needs Fields")
        typ = pa.struct([_field_of(f, decl, top=False) for f in fields])
    else:
        typ, logical = _leaf_type(t)
        if top and logical:
            decl.logical_types[name] = logical
        elif logical:
            # a nested leaf carries its annotation as field metadata,
            # which the writer reads on every leaf
            spec = dict(logical) if isinstance(logical, dict) \
                else {"kind": logical}
            md = {b"pgs_logical": spec.pop("kind").encode()}
            md.update({f"pgs_geo_{k}".encode(): str(v).encode()
                       for k, v in spec.items()})
        if rep == "REPEATED":                         # legacy bare list
            typ, nullable = pa.list_(pa.field("item", typ, True, md)), False
            md = None
    if top:
        _collect_options(name, t, decl)
        if ptype == "INT96":
            decl.int96_columns.add(name)
    else:
        # the writer keys these options by top-level column: on a LIST
        # element, MAP key/value or struct member they would vanish
        tag = next((k for k in _WRITER_TAGS if t.get(k)), None)
        if tag is not None:
            raise ValueError(
                f"field {name!r}: tag {tag}= is only honoured on a "
                "top-level column, not on a nested field")
    return pa.field(name, typ, nullable, md)


def parse_json_schema(text: str) -> SchemaDecl:
    """The reference's JSON schema-string format
    (schema/json.go NewSchemaHandlerFromJSON): a root Tag plus nested
    Fields, every node a tag string."""
    try:
        doc = json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(f"unmarshal json schema string: {e}") from None
    decl = SchemaDecl(schema=pa.schema([]))
    root_fields = doc.get("Fields") or []
    if not root_fields:
        raise ValueError("root schema needs Fields")
    parse_tag(doc.get("Tag", "name=root"))    # validates the root tag
    decl.schema = pa.schema(
        [_field_of(f, decl, top=True) for f in root_fields])
    return decl


def parse_csv_metadata(mds: list[str]) -> SchemaDecl:
    """The reference's flat CSV-metadata format
    (schema/csv.go NewSchemaHandlerFromMetadata): one tag line per
    column, leaf types only."""
    decl = SchemaDecl(schema=pa.schema([]))
    decl.schema = pa.schema(
        [_field_of({"Tag": md}, decl, top=True) for md in mds])
    return decl


# ----------------------------------------------------- reverse render

def _leaf_tag(typ: pa.DataType, logical) -> dict[str, str]:
    """Inverse of _leaf_type: arrow leaf type -> tag key/values."""
    if isinstance(logical, dict):            # geometry/geography spec
        tag = {"type": "BYTE_ARRAY",
               "logicaltype": logical["kind"].upper()}
        if logical.get("crs"):
            tag["logicaltype.crs"] = str(logical["crs"])
        if logical.get("algorithm"):
            tag["logicaltype.algorithm"] = str(logical["algorithm"])
        return tag
    if logical == "uuid":
        return {"type": "FIXED_LEN_BYTE_ARRAY", "length": "16",
                "logicaltype": "UUID"}
    if logical == "interval":
        return {"type": "FIXED_LEN_BYTE_ARRAY", "length": "12",
                "convertedtype": "INTERVAL"}
    if logical == "json":
        return {"type": "BYTE_ARRAY", "convertedtype": "JSON"}
    if logical == "enum":
        return {"type": "BYTE_ARRAY", "convertedtype": "ENUM"}
    if logical == "bson":
        return {"type": "BYTE_ARRAY", "convertedtype": "BSON"}
    if pa.types.is_boolean(typ):
        return {"type": "BOOLEAN"}
    if pa.types.is_date32(typ):
        return {"type": "INT32", "convertedtype": "DATE"}
    if pa.types.is_time32(typ):
        return {"type": "INT32", "convertedtype": "TIME_MILLIS"}
    if pa.types.is_time64(typ):
        return {"type": "INT64", "convertedtype": "TIME_MICROS"}
    if pa.types.is_timestamp(typ):
        unit = {"ms": "MILLIS", "us": "MICROS", "ns": "NANOS"}.get(
            typ.unit, "MICROS")
        if unit == "NANOS":
            return {"type": "INT96"}
        return {"type": "INT64", "logicaltype": "TIMESTAMP",
                "logicaltype.unit": unit}
    if pa.types.is_decimal(typ):
        phys = ("INT32" if typ.precision <= 9 else
                "INT64" if typ.precision <= 18 else
                "FIXED_LEN_BYTE_ARRAY")
        t = {"type": phys, "convertedtype": "DECIMAL",
             "precision": str(typ.precision), "scale": str(typ.scale)}
        if phys == "FIXED_LEN_BYTE_ARRAY":
            t["length"] = "16"
        return t
    for small, conv in ((pa.int8(), "INT_8"), (pa.int16(), "INT_16"),
                        (pa.uint8(), "UINT_8"), (pa.uint16(), "UINT_16"),
                        (pa.uint32(), "UINT_32")):
        if typ == small:
            return {"type": "INT32", "convertedtype": conv}
    if typ == pa.uint64():
        return {"type": "INT64", "convertedtype": "UINT_64"}
    if pa.types.is_int32(typ):
        return {"type": "INT32"}
    if pa.types.is_int64(typ):
        return {"type": "INT64"}
    if pa.types.is_float16(typ):
        return {"type": "FIXED_LEN_BYTE_ARRAY", "length": "2",
                "logicaltype": "FLOAT16"}
    if pa.types.is_float32(typ):
        return {"type": "FLOAT"}
    if pa.types.is_float64(typ):
        return {"type": "DOUBLE"}
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return {"type": "BYTE_ARRAY", "convertedtype": "UTF8"}
    if pa.types.is_fixed_size_binary(typ):
        return {"type": "FIXED_LEN_BYTE_ARRAY",
                "length": str(typ.byte_width)}
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return {"type": "BYTE_ARRAY"}
    raise ValueError(f"cannot render arrow type {typ!r} as a tag")


def _render_field(f: pa.Field, logical_types: dict[str, str],
                  top: bool) -> dict:
    rep = "OPTIONAL" if f.nullable else "REQUIRED"
    logical = logical_types.get(f.name) if top else None
    if logical is None and f.metadata:
        logical = (f.metadata.get(b"pgs_logical") or b"").decode() or None
    if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
        elem = f.type.value_field
        return {"Tag": f"name={f.name}, type=LIST, repetitiontype={rep}",
                "Fields": [_render_field(
                    pa.field("element", elem.type, elem.nullable),
                    logical_types, top=False)]}
    if pa.types.is_map(f.type):
        kv = [pa.field("key", f.type.key_type, False),
              pa.field("value", f.type.item_type, True)]
        return {"Tag": f"name={f.name}, type=MAP, repetitiontype={rep}",
                "Fields": [_render_field(x, logical_types, top=False)
                           for x in kv]}
    if pa.types.is_struct(f.type):
        return {"Tag": f"name={f.name}, repetitiontype={rep}",
                "Fields": [_render_field(f.type.field(i), logical_types,
                                         top=False)
                           for i in range(f.type.num_fields)]}
    tag = _leaf_tag(f.type, logical)
    parts = [f"name={f.name}", f"type={tag.pop('type')}"]
    parts += [f"{k}={v}" for k, v in tag.items()]
    parts.append(f"repetitiontype={rep}")
    return {"Tag": ", ".join(parts)}


def render_json_schema(schema: pa.Schema,
                       logical_types: dict[str, str] | None = None,
                       indent: int | None = 2) -> str:
    """Inverse of parse_json_schema: an Arrow schema (plus optional
    engine logical-type tags) rendered as the reference's JSON
    schema-string format — so a schema read from any engine/foreign
    file ports back into a parquet-go declaration."""
    doc = {"Tag": "name=parquet_go_root, repetitiontype=REQUIRED",
           "Fields": [_render_field(f, logical_types or {}, top=True)
                      for f in schema]}
    return json.dumps(doc, indent=indent)
