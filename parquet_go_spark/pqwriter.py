"""Real Parquet WRITER: emit spec-conformant ``.parquet`` bytes using
ONLY the engine's codec kernels.

pqinterop.py proves the engine's codecs *read* the spec's bitstreams;
this module is the other half of the reference's job — writing actual
Parquet files (the reference writer lifecycle:
/root/reference/internal/layout/page_write_encode.go,
internal/encoding/encodingwrite.go; thrift compact metadata per
parquet.thrift). Every value byte comes from ``codecs/{plainc,rle,
delta,bss,dictionary,deltaba}`` and every block-compressed page goes
through the engine's codec registry (frame.py); the Thrift compact
footer and page headers are serialized here. External readers are the
proof: pyarrow, DuckDB, and Spark's JVM vectorized reader all decode
these files (tests/test_pqwriter.py and the pq_writer_roundtrip gate
query).

Scope (deliberate, mirrors the reference writer's menu):

  * flat REQUIRED/OPTIONAL columns, data pages v1, per-chunk encoding;
  * types: BOOLEAN, INT32 (+DATE), INT64 (+TIMESTAMP micros), FLOAT,
    DOUBLE, BYTE_ARRAY (+UTF8), FIXED_LEN_BYTE_ARRAY;
  * encodings: PLAIN, RLE (bool), RLE_DICTIONARY (+PLAIN dict pages),
    DELTA_BINARY_PACKED, DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY,
    BYTE_STREAM_SPLIT — with sampled auto-selection per column chunk
    (cardinality / dict-budget cost, the reference's
    ``encodingwrite.go`` policy re-expressed);
  * block codecs: none/snappy/gzip/zstd/brotli/lz4_raw via the engine
    registry (v1 pages: when a chunk declares a codec every page is
    compressed — the store-uncompressed-if-bigger rule is a PGS frame
    freedom the v1 page grammar does not offer);
  * per-chunk Statistics (min_value/max_value/null_count, NaN-safe,
    ±0.0 normalized per spec) and per-page CRC32.

NDV probing and byte-array code assignment ride arrow's C++
``dictionary_encode`` — no per-value Python in the hot path.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import frame as framemod
from .codecs import bss, delta, deltaba, dictionary, plainc, rle
from .codecs.varint import write_uvarint
from .pqinterop import (
    CT_BINARY, CT_DOUBLE, CT_I16, CT_I32, CT_I64, CT_LIST, CT_STRUCT,
    CT_TRUE,
    E_BYTE_STREAM_SPLIT, E_DELTA_BA, E_DELTA_BINARY_PACKED,
    E_DELTA_LENGTH_BA, E_PLAIN, E_RLE, E_RLE_DICTIONARY, MAGIC,
    PG_DATA, PG_DATA_V2, PG_DICT, T_BOOLEAN, T_BYTE_ARRAY, T_DOUBLE, T_FLBA,
    T_FLOAT, T_INT32, T_INT64, _CODEC_NAMES,
)

CODEC_IDS = {name: cid for cid, name in _CODEC_NAMES.items() if name}


class _CodecSpec(int):
    """A parquet codec id that rides an optional compression level
    (the reference's ``compression=ZSTD:3`` tag, common/tag.go:97-110).
    Subclassing int keeps every existing comparison / thrift-emit /
    dict-lookup site working unchanged; only the two page-compression
    sites read ``.level``."""

    level: "int | None"

    def __new__(cls, cid: int, level: "int | None" = None):
        o = super().__new__(cls, cid)
        o.level = level
        return o


def _codec_spec(spec: str) -> "_CodecSpec | int":
    """``"zstd"`` | ``"zstd:3"`` | ``"none"`` -> codec id (level-carrying
    when a level is given). Rejects write-deprecated hadoop LZ4."""
    from . import frame as framemod

    name, level = framemod.parse_compression(spec)
    if name == "lz4":
        raise ValueError("hadoop-framed LZ4 is write-deprecated; "
                         "use lz4_raw")
    if name != "none" and name not in CODEC_IDS:
        raise ValueError(f"unsupported parquet codec {spec!r}")
    cid = 0 if name == "none" else CODEC_IDS[name]
    return _CodecSpec(cid, level) if level is not None else cid

# parquet.thrift ConvertedType values used here
CV_UTF8, CV_DECIMAL, CV_DATE, CV_TIMESTAMP_MICROS = 0, 5, 6, 10

E_RLE_LEVELS = 3             # definition/repetition level encoding
DICT_BUDGET = 1 << 20        # reference's 1 MiB dictionary budget
DICT_MAX_NDV = 1 << 16
STATS_MAX_LEN = 128          # omit binary stats past this (no truncation
                             # grammar on the write side — exact or absent)


# --------------------------------------------------------- thrift compact

def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _tv(ct: int, v) -> bytes:
    """Serialize one compact-protocol value of container type ct."""
    if ct == CT_TRUE:           # bool inside a list: 1 = true, 2 = false
        return b"\x01" if v else b"\x02"
    if ct == 3:                 # CT_BYTE: one signed byte
        return bytes([int(v) & 0xFF])
    if ct in (CT_I16, CT_I32, CT_I64):
        return write_uvarint(_zz(int(v)))
    if ct == CT_DOUBLE:
        return struct.pack("<d", float(v))
    if ct == CT_BINARY:
        b = v.encode() if isinstance(v, str) else bytes(v)
        return write_uvarint(len(b)) + b
    if ct == CT_LIST:
        etype, items = v
        hdr = (bytes([(len(items) << 4) | etype]) if len(items) < 15
               else bytes([0xF0 | etype]) + write_uvarint(len(items)))
        return hdr + b"".join(_tv(etype, it) for it in items)
    if ct == CT_STRUCT:
        return bytes(v)          # pre-serialized nested struct
    raise ValueError(f"thrift write: unsupported type {ct}")


def _tstruct(fields) -> bytes:
    """fields: iterable of (fid, ctype, value) in ascending fid order;
    a None value skips the field (thrift optional)."""
    out, last = bytearray(), 0
    for fid, ct, v in fields:
        if v is None:
            continue
        wire = ct
        if ct == CT_TRUE:
            wire = 1 if v else 2
        d = fid - last
        if 0 < d <= 15:
            out.append((d << 4) | wire)
        else:
            out.append(wire)
            out += write_uvarint(_zz(fid))
        last = fid
        if ct != CT_TRUE:        # bool value lives in the type nibble
            out += _tv(ct, v)
    out.append(0)                # STOP
    return bytes(out)


# --------------------------------------------------------- type mapping

@dataclass
class _Col:
    name: str
    ptype: int
    type_length: int | None = None
    converted: int | None = None
    logical: bytes | None = None      # serialized LogicalType struct
    np_dtype: np.dtype | None = None  # numeric storage dtype
    scale: int | None = None          # DECIMAL only
    precision: int | None = None
    int96: bool = False               # emit physical INT96 (12-byte FLBA
                                      # bytes, legacy declared type)
    geo: bool = False                 # GEOMETRY/GEOGRAPHY: fold per-chunk
                                      # GeospatialStatistics, omit min/max


CV_LIST = 3                  # ConvertedType LIST


@dataclass
class _PageRec:
    """One data page's PageIndex record (parquet.thrift ColumnIndex /
    OffsetIndex — the reference writes both in WriteStop,
    /root/reference/writer/ops.go:28-117)."""
    offset: int          # absolute file offset of the page header
    size: int            # header + compressed body bytes
    first_row: int       # row index within the row group
    null_count: int
    mn: object = None    # comparable python value (None on null page)
    mx: object = None
    dh: list | None = None   # per-page definition level histogram
    rh: list | None = None   # per-page repetition level histogram
    ub: int | None = None    # per-page unencoded BYTE_ARRAY bytes


@dataclass
class _Chunk:
    """Deferred ColumnChunk: meta fields stay a mutable list until the
    footer is built, so bloom offsets (written after the data pages)
    can be appended before serialization. ``crypto`` carries modular-
    encryption state: footer-key chunks keep plaintext meta (the
    encrypted footer protects it) + ColumnCryptoMetaData union 1;
    column-key chunks move the meta into field 9, sealed with the
    column key at AAD (type 1, rg, col)."""
    meta_fields: list
    start: int
    bloom_hashes: "np.ndarray | None" = None
    bloom_size: "int | None" = None   # declared bitset bytes (tag
                                      # bloomfiltersize); None = NDV-sized
    crypto: tuple | None = None   # (mode, path, key, kmd, aad, rg, col)
    ptf: bool = False             # plaintext-footer file
    pages: "list[_PageRec] | None" = None
    ci_ok: bool = False           # per-page bounds are exact for EVERY
                                  # page (exact-or-absent, like Statistics)
    col: "_Col | None" = None     # for serializing index min/max bytes
    oi_off: int | None = None
    oi_len: int | None = None
    ci_off: int | None = None
    ci_len: int | None = None

    def serialize(self) -> bytes:
        idx_fields = []
        if self.oi_off is not None:
            idx_fields += [(4, CT_I64, self.oi_off),
                           (5, CT_I32, self.oi_len)]
        if self.ci_off is not None:
            idx_fields += [(6, CT_I64, self.ci_off),
                           (7, CT_I32, self.ci_len)]
        if self.crypto is None:
            return _tstruct([(2, CT_I64, self.start),
                             (3, CT_STRUCT, _tstruct(self.meta_fields))]
                            + idx_fields)
        mode, path, key, kmd, aad_base, rg, col = self.crypto
        if mode == "footer" and not self.ptf:
            ccm = _tstruct([(1, CT_STRUCT, _EMPTY)])
            return _tstruct([
                (2, CT_I64, self.start),
                (3, CT_STRUCT, _tstruct(self.meta_fields)),
                (8, CT_STRUCT, ccm),
            ])
        from . import pqcrypt

        meta_pt = _tstruct(self.meta_fields)
        mod = pqcrypt.seal_module(
            key, pqcrypt.module_aad(aad_base, pqcrypt.M_COLMETA, rg, col),
            meta_pt)
        if mode == "footer":
            ccm = _tstruct([(1, CT_STRUCT, _EMPTY)])
        else:
            inner = _tstruct([
                (1, CT_LIST, (CT_BINARY, path)),
                (2, CT_BINARY, kmd if kmd else None),
            ])
            ccm = _tstruct([(2, CT_STRUCT, inner)])
        fields = [(2, CT_I64, self.start)]
        if self.ptf:
            # cleartext copy with Statistics AND SizeStatistics AND
            # GeospatialStatistics redacted (spec + reference security
            # guidance: the plaintext footer must not leak any
            # encrypted-column stats; they live only in the sealed
            # EncryptedColumnMetadata module)
            redacted = [f for f in self.meta_fields
                        if f[0] not in (12, 16, 17)]
            fields.append((3, CT_STRUCT, _tstruct(redacted)))
        fields.append((8, CT_STRUCT, ccm))
        fields.append((9, CT_BINARY, mod))
        return _tstruct(fields)



_EMPTY = _tstruct([])


def _logical(fid: int, payload: bytes = _EMPTY) -> bytes:
    return _tstruct([(fid, CT_STRUCT, payload)])


def _logical_col(field: pa.Field, kind: str) -> _Col:
    """Annotation-only logical types over existing physical shapes
    (reference types/uuid.go, types/json.go:16-330, types/bson.go,
    types/interval.go:9-88): validate the arrow shape, emit the spec
    ConvertedType/LogicalType pair."""
    t = field.type
    if kind == "uuid":
        if not (pa.types.is_fixed_size_binary(t) and t.byte_width == 16):
            raise ValueError(
                f"uuid column {field.name!r} must be fixed_size_binary(16)")
        return _Col(field.name, T_FLBA, type_length=16,
                    logical=_logical(14))                  # UUIDType
    if kind == "json":
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise ValueError(f"json column {field.name!r} must be string")
        return _Col(field.name, T_BYTE_ARRAY, converted=19,  # JSON
                    logical=_logical(12))
    if kind == "bson":
        if not (pa.types.is_binary(t) or pa.types.is_large_binary(t)):
            raise ValueError(f"bson column {field.name!r} must be binary")
        return _Col(field.name, T_BYTE_ARRAY, converted=20,  # BSON
                    logical=_logical(13))
    if kind == "enum":
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise ValueError(f"enum column {field.name!r} must be string")
        return _Col(field.name, T_BYTE_ARRAY, converted=4,   # ENUM
                    logical=_logical(4))
    if kind in ("geometry", "geography"):
        # WKB over BYTE_ARRAY; empty GeometryType/GeographyType payload
        # = default CRS OGC:CRS84 (reference types/geospatial.go).
        # Optional params ride in field metadata: pgs_geo_crs, and for
        # geography pgs_geo_algorithm (spherical|vincenty|thomas|
        # andoyer|karney — spec EdgeInterpolationAlgorithm)
        if not (pa.types.is_binary(t) or pa.types.is_large_binary(t)):
            raise ValueError(
                f"{kind} column {field.name!r} must be binary (WKB)")
        md = field.metadata or {}
        payload = [(1, CT_BINARY,
                    md[b"pgs_geo_crs"].decode()
                    if b"pgs_geo_crs" in md else None)]
        if kind == "geography" and b"pgs_geo_algorithm" in md:
            algos = ("spherical", "vincenty", "thomas", "andoyer",
                     "karney")
            name = md[b"pgs_geo_algorithm"].decode().lower()
            if name not in algos:
                raise ValueError(
                    f"unknown edge interpolation algorithm {name!r}")
            payload.append((2, CT_I32, algos.index(name)))
        return _Col(field.name, T_BYTE_ARRAY,
                    logical=_logical(17 if kind == "geometry" else 18,
                                     _tstruct(payload)),
                    geo=True)
    if kind == "interval":
        # legacy month/day/millis triple; ConvertedType only — the
        # modern LogicalType union has no interval member
        if not (pa.types.is_fixed_size_binary(t) and t.byte_width == 12):
            raise ValueError(
                f"interval column {field.name!r} must be "
                "fixed_size_binary(12) (pack_interval layout)")
        return _Col(field.name, T_FLBA, type_length=12, converted=21)
    raise ValueError(f"unknown logical annotation {kind!r} "
                     f"(column {field.name!r})")


def _map_type(field: pa.Field) -> _Col:
    t = field.type
    md = field.metadata or {}
    kind = md.get(b"pgs_logical")
    if kind is not None:
        return _logical_col(field, kind.decode())
    if pa.types.is_boolean(t):
        return _Col(field.name, T_BOOLEAN)
    if pa.types.is_int32(t):
        return _Col(field.name, T_INT32, np_dtype=np.dtype("<i4"))
    if pa.types.is_int8(t) or pa.types.is_int16(t):
        bw = 8 if pa.types.is_int8(t) else 16
        it = _tstruct([(1, 3, bw), (2, CT_TRUE, True)])   # IntType
        return _Col(field.name, T_INT32,
                    converted=15 if bw == 8 else 16,      # INT_8/INT_16
                    logical=_logical(10, it),
                    np_dtype=np.dtype("<i4"))
    if pa.types.is_float16(t):
        # FLOAT16 logical over FLBA(2), little-endian IEEE half
        return _Col(field.name, T_FLBA, type_length=2,
                    logical=_logical(15), np_dtype=np.dtype("<f2"))
    if pa.types.is_time32(t):
        if t.unit != "ms":
            raise ValueError("time32 must be milliseconds")
        tt = _tstruct([(1, CT_TRUE, False),
                       (2, CT_STRUCT, _tstruct([(1, CT_STRUCT,
                                                 _EMPTY)]))])
        return _Col(field.name, T_INT32, converted=7,   # TIME_MILLIS
                    logical=_logical(7, tt),
                    np_dtype=np.dtype("<i4"))
    if pa.types.is_time64(t):
        if t.unit != "us":
            raise ValueError("time64 must be cast to microseconds")
        tt = _tstruct([(1, CT_TRUE, False),
                       (2, CT_STRUCT, _tstruct([(2, CT_STRUCT,
                                                 _EMPTY)]))])
        return _Col(field.name, T_INT64, converted=8,     # TIME_MICROS
                    logical=_logical(7, tt),
                    np_dtype=np.dtype("<i8"))
    if pa.types.is_int64(t):
        return _Col(field.name, T_INT64, np_dtype=np.dtype("<i8"))
    if pa.types.is_float32(t):
        return _Col(field.name, T_FLOAT, np_dtype=np.dtype("<f4"))
    if pa.types.is_float64(t):
        return _Col(field.name, T_DOUBLE, np_dtype=np.dtype("<f8"))
    if pa.types.is_date32(t):
        return _Col(field.name, T_INT32, converted=CV_DATE,
                    logical=_logical(6), np_dtype=np.dtype("<i4"))
    if pa.types.is_timestamp(t):
        unit_fid = {"ms": 1, "us": 2, "ns": 3}.get(t.unit)
        if unit_fid is None:
            raise ValueError("timestamp seconds: cast to ms/us/ns")
        utc = t.tz is not None
        ts = _tstruct([(1, CT_TRUE, utc),
                       (2, CT_STRUCT, _logical(unit_fid))])
        conv = None
        if utc and t.unit == "us":
            conv = CV_TIMESTAMP_MICROS
        elif utc and t.unit == "ms":
            conv = 9                                 # TIMESTAMP_MILLIS
        return _Col(field.name, T_INT64, converted=conv,
                    logical=_logical(8, ts), np_dtype=np.dtype("<i8"))
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _Col(field.name, T_BYTE_ARRAY, converted=CV_UTF8,
                    logical=_logical(1))
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return _Col(field.name, T_BYTE_ARRAY)
    if pa.types.is_fixed_size_binary(t):
        return _Col(field.name, T_FLBA, type_length=t.byte_width)
    if pa.types.is_decimal(t):
        # spec §DECIMAL: INT32 through 9 digits, INT64 through 18,
        # FLBA big-endian two's complement past that
        dec = _tstruct([(1, CT_I32, t.scale), (2, CT_I32, t.precision)])
        log = _logical(5, dec)
        if t.precision <= 9:
            return _Col(field.name, T_INT32, converted=CV_DECIMAL,
                        logical=log, np_dtype=np.dtype("<i4"),
                        scale=t.scale, precision=t.precision)
        if t.precision <= 18:
            return _Col(field.name, T_INT64, converted=CV_DECIMAL,
                        logical=log, np_dtype=np.dtype("<i8"),
                        scale=t.scale, precision=t.precision)
        return _Col(field.name, T_FLBA, type_length=16,
                    converted=CV_DECIMAL, logical=log,
                    scale=t.scale, precision=t.precision)
    raise ValueError(f"pqwriter: unsupported arrow type {t} "
                     f"(column {field.name!r})")


def _bytes_and_offsets(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    """Non-null variable-width array -> (concatenated bytes, offsets)."""
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], np.int64, len(arr) + 1,
                         offset=arr.offset * 8).copy()
    if bufs[2] is None or len(arr) == 0:
        return b"", offs - (offs[0] if len(offs) else 0)
    data = bytes(memoryview(bufs[2])[offs[0]:offs[-1]])
    return data, offs - offs[0]


# --------------------------------------------------------- value encoders

def _plain(col: _Col, vals) -> bytes:
    if col.ptype == T_BOOLEAN:
        return plainc.encode_bool(np.asarray(vals, bool))
    if col.ptype == T_BYTE_ARRAY:
        data, offs = vals
        return plainc.encode_byte_array(data, offs)
    if col.ptype == T_FLBA:
        return plainc.encode_fixed(vals)
    return plainc.encode_numeric(np.ascontiguousarray(vals, col.np_dtype))


def _encode_values(col: _Col, enc: int, vals) -> bytes:
    """Values section of one data page (spec framing, no PGS prefixes)."""
    if enc == E_PLAIN:
        return _plain(col, vals)
    if enc == E_RLE:                       # boolean: u32-prefixed hybrid
        return rle.encode_with_length_prefix(np.asarray(vals, np.uint8), 1)
    if enc == E_DELTA_BINARY_PACKED:
        return delta.encode(vals, 4 if col.ptype == T_INT32 else 8)
    if enc == E_BYTE_STREAM_SPLIT:
        return bss.encode(np.ascontiguousarray(vals, col.np_dtype))
    if enc == E_DELTA_LENGTH_BA:           # lengths block then raw bytes
        data, offs = vals
        return delta.encode(np.diff(offs), 4) + data
    if enc == E_DELTA_BA:                  # prefix/suffix blocks + bytes
        data, offs = vals
        u8 = np.frombuffer(data, np.uint8) if data else np.zeros(0, np.uint8)
        pfx = deltaba.common_prefix_lengths(u8, offs)
        lens = np.diff(offs)
        parts = [data[int(offs[i] + pfx[i]):int(offs[i + 1])]
                 for i in range(len(lens))]
        return (delta.encode(pfx, 4) + delta.encode(lens - pfx, 4)
                + b"".join(parts))
    raise ValueError(f"unsupported write encoding {enc}")


def _slice_vals(col: _Col, vals, lo: int, hi: int):
    if col.ptype == T_BYTE_ARRAY:
        data, offs = vals
        o = offs[lo:hi + 1]
        base = int(o[0]) if len(o) else 0
        end = int(o[-1]) if len(o) else 0
        return data[base:end], o - base
    if col.ptype == T_FLBA:
        w = col.type_length
        return vals[lo * w:hi * w]
    return vals[lo:hi]


# --------------------------------------------------------- statistics

def _stat_bytes(col: _Col, v) -> bytes | None:
    if col.ptype == T_BOOLEAN:
        return b"\x01" if v else b"\x00"
    if col.ptype == T_INT32:
        return struct.pack("<i", int(v))
    if col.ptype == T_INT64:
        return struct.pack("<q", int(v))
    if col.ptype == T_FLOAT:
        return struct.pack("<f", float(v))
    if col.ptype == T_DOUBLE:
        return struct.pack("<d", float(v))
    b = v.encode() if isinstance(v, str) else bytes(v)
    return b if len(b) <= STATS_MAX_LEN else None


def _chunk_stats(col: _Col, arr_nonnull: pa.Array, vals, null_count: int):
    """Serialized Statistics struct (exact bounds or absent)."""
    mn = mx = None
    n = len(arr_nonnull)
    if n:
        if col.ptype in (T_INT32, T_INT64):
            mn, mx = vals.min(), vals.max()
        elif col.ptype in (T_FLOAT, T_DOUBLE):
            if not np.isnan(vals).any():   # NaN has no total order in stats
                mn, mx = vals.min(), vals.max()
                if mn == 0.0:              # spec: -0.0 as min, +0.0 as max
                    mn = -0.0
                if mx == 0.0:
                    mx = 0.0
        elif col.ptype == T_BOOLEAN:
            b = np.asarray(arr_nonnull, bool)
            mn, mx = bool(b.min()), bool(b.max())
        elif col.ptype == T_BYTE_ARRAY:
            mm = pc.min_max(arr_nonnull.cast(pa.large_binary()))
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
        elif col.scale is not None:        # FLBA decimal: signed BE order
            pass                           # ≠ byte order — omit bounds
        elif col.np_dtype == np.dtype("<f2"):
            pass                           # FLOAT16: same exclusion
        else:                              # FLBA
            mm = pc.min_max(arr_nonnull.cast(pa.binary(col.type_length)))
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
    # PARQUET-251: the deprecated min/max fields (1/2) only carry
    # SIGNED sort orders — emit them alongside min_value/max_value for
    # legacy readers, omit for unsigned-ordered columns (BYTE_ARRAY and
    # unsigned-int logicals) so old readers cannot misinterpret them
    # (reference README "Encoding notes", same policy)
    signed_order = (
        col.ptype in (T_BOOLEAN, T_INT32, T_INT64, T_FLOAT, T_DOUBLE)
        and col.converted not in (11, 12, 13, 14))       # UINT_8..64
    mx_b = None if mx is None else _stat_bytes(col, mx)
    mn_b = None if mn is None else _stat_bytes(col, mn)
    return _tstruct([
        (1, CT_BINARY, mx_b if signed_order else None),
        (2, CT_BINARY, mn_b if signed_order else None),
        (3, CT_I64, null_count),
        (5, CT_BINARY, mx_b),
        (6, CT_BINARY, mn_b),
        # exact-or-absent policy: a WRITTEN bound is always an
        # attained value (no truncation grammar on the write side), so
        # the exactness flags (reference chunk.go:113) are true — but
        # only when the bound bytes actually made it into the struct
        # (_stat_bytes omits >128 B binaries entirely)
        (7, CT_TRUE, True if mx_b is not None else None),
        (8, CT_TRUE, True if mn_b is not None else None),
    ])


def _enc_stats_field(dict_offset, page_version: int, enc_id: int,
                     n_pages: int):
    """ColumnMetaData.encoding_stats (field 13): per-(page type,
    encoding) page counts — what parquet-mr's DictionaryFilter reads
    to know a chunk is FULLY dictionary-encoded."""
    out = []
    if dict_offset is not None:
        out.append(_tstruct([(1, CT_I32, PG_DICT), (2, CT_I32, E_PLAIN),
                             (3, CT_I32, 1)]))
    pg = PG_DATA if page_version == 1 else PG_DATA_V2
    out.append(_tstruct([(1, CT_I32, pg), (2, CT_I32, enc_id),
                         (3, CT_I32, n_pages)]))
    return (13, CT_LIST, (CT_STRUCT, out))


def _page_minmax(col: _Col, nonnull: pa.Array, vals, v_lo: int,
                 v_hi: int):
    """Exact bounds for one page's value slice -> (mn, mx, ok) as
    comparable python values. ok=False poisons the whole chunk's
    ColumnIndex (exact-or-absent — same policy as Statistics): NaN
    floats, >128 B binaries, FLBA decimals (signed BE order ≠ byte
    order) and INT96 never get approximate bounds."""
    if col.geo:
        return None, None, False   # GEOMETRY: byte order is undefined
    if col.int96 or (col.scale is not None and col.ptype == T_FLBA) \
            or (col.ptype == T_FLBA
                and col.np_dtype == np.dtype("<f2")):
        return None, None, False
    if v_hi <= v_lo:
        return None, None, True          # all-null page
    if isinstance(vals, np.ndarray):
        v = vals[v_lo:v_hi]
        if col.ptype in (T_FLOAT, T_DOUBLE):
            if np.isnan(v).any():
                return None, None, False
            mn, mx = float(v.min()), float(v.max())
            if mn == 0.0:                # spec: -0.0 as min, +0.0 as max
                mn = -0.0
            if mx == 0.0:
                mx = 0.0
            return mn, mx, True
        if col.ptype == T_BOOLEAN:
            return bool(v.min()), bool(v.max()), True
        return int(v.min()), int(v.max()), True
    # byte arrays / FLBA: arrow C++ min_max over the page slice
    sl = nonnull.slice(v_lo, v_hi - v_lo)
    if col.ptype == T_FLBA:
        sl = sl.cast(pa.binary(col.type_length))
    else:
        sl = sl.cast(pa.large_binary())
    mm = pc.min_max(sl)
    mn = mm["min"].as_py()
    mx = mm["max"].as_py()
    if mx is not None and (len(mx) > STATS_MAX_LEN
                           or len(mn) > STATS_MAX_LEN):
        return None, None, False
    return mn, mx, True


def _boundary_order(pages: "list[_PageRec]") -> int:
    """BoundaryOrder over non-null pages: 1 ASC, 2 DESC, 0 UNORDERED."""
    mins = [p.mn for p in pages if p.mn is not None]
    maxs = [p.mx for p in pages if p.mx is not None]
    if len(mins) <= 1:
        return 1
    asc = all(a <= b for a, b in zip(mins, mins[1:])) and \
        all(a <= b for a, b in zip(maxs, maxs[1:]))
    if asc:
        return 1
    desc = all(a >= b for a, b in zip(mins, mins[1:])) and \
        all(a >= b for a, b in zip(maxs, maxs[1:]))
    return 2 if desc else 0


def _write_page_index(out: bytearray, chunks: "list[_Chunk]") -> None:
    """Append ColumnIndex then OffsetIndex structs for every chunk that
    collected page records; patch offsets into the ColumnChunk fields
    (4-7). Layout follows parquet-mr: all indexes live between the last
    data page and the footer."""
    for ch in chunks:
        if ch.pages is None or not ch.ci_ok:
            continue
        empty = b""
        null_pages = [p.mn is None for p in ch.pages]
        mins = [empty if p.mn is None else _stat_bytes(ch.col, p.mn)
                for p in ch.pages]
        maxs = [empty if p.mx is None else _stat_bytes(ch.col, p.mx)
                for p in ch.pages]
        ci_fields = [
            (1, CT_LIST, (CT_TRUE, null_pages)),
            (2, CT_LIST, (CT_BINARY, mins)),
            (3, CT_LIST, (CT_BINARY, maxs)),
            (4, CT_I32, _boundary_order(ch.pages)),
            (5, CT_LIST, (CT_I64, [p.null_count for p in ch.pages])),
        ]
        # per-page level histograms, flattened page-major (spec fields
        # 6/7; reference writer/pages.go:297-300 appends the same way)
        if all(p.rh is not None for p in ch.pages):
            ci_fields.append((6, CT_LIST, (CT_I64, [
                v for p in ch.pages for v in p.rh])))
        if all(p.dh is not None for p in ch.pages):
            ci_fields.append((7, CT_LIST, (CT_I64, [
                v for p in ch.pages for v in p.dh])))
        ci = _tstruct(ci_fields)
        ch.ci_off = len(out)
        ch.ci_len = len(ci)
        out += ci
    for ch in chunks:
        if ch.pages is None:
            continue
        locs = [_tstruct([(1, CT_I64, p.offset),
                          (2, CT_I32, p.size),
                          (3, CT_I64, p.first_row)]) for p in ch.pages]
        oi_fields = [(1, CT_LIST, (CT_STRUCT, locs))]
        if all(p.ub is not None for p in ch.pages):
            oi_fields.append((2, CT_LIST, (CT_I64,
                              [p.ub for p in ch.pages])))
        oi = _tstruct(oi_fields)
        ch.oi_off = len(out)
        ch.oi_len = len(oi)
        out += oi


# --------------------------------------------------------- page assembly

class _PageCrypt:
    """Per-chunk page-module encryption state (pqcrypt.py grammar).
    ``ctr=True`` = AES_GCM_CTR_V1: page BODY modules use AES-CTR
    (unauthenticated), header/metadata modules stay GCM."""

    def __init__(self, key: bytes, aad_base: bytes, rg: int, col: int,
                 ctr: bool = False):
        self.key, self.aad_base = key, aad_base
        self.rg, self.col = rg, col
        self.page_ord = 0
        self.ctr = ctr

    def seal(self, mtype: int, plaintext: bytes,
             page_ord: int | None) -> bytes:
        from . import pqcrypt

        if self.ctr and mtype in (pqcrypt.M_DATA_PAGE,
                                  pqcrypt.M_DICT_PAGE):
            return pqcrypt.seal_module_ctr(self.key, plaintext)
        return pqcrypt.seal_module(
            self.key,
            pqcrypt.module_aad(self.aad_base, mtype, self.rg, self.col,
                               page_ord), plaintext)


def _page(pg_type: int, header_extra: bytes, payload: bytes,
          codec_id: int, pc: "_PageCrypt | None" = None
          ) -> tuple[bytes, int, int]:
    """Compress + frame one page -> (bytes, uncompressed, compressed).
    v1 grammar: a declared chunk codec compresses EVERY page. With
    ``pc`` the header and body become AES-GCM modules (header/body
    module types per page kind; data pages consume a page ordinal) and
    the header's compressed size counts the whole body module —
    pyarrow's convention, confirmed against its ciphertext."""
    usize = len(payload)
    body = payload
    if codec_id != 0:
        body = framemod._get_codec(
            framemod.COMP_IDS[_CODEC_NAMES[codec_id]],
            getattr(codec_id, "level", None)
        ).compress(payload).to_pybytes()
    if pc is not None:
        from . import pqcrypt

        if pg_type == PG_DICT:
            ht, bt, po = pqcrypt.M_DICT_PAGE_HDR, pqcrypt.M_DICT_PAGE, None
        else:
            ht, bt = pqcrypt.M_DATA_PAGE_HDR, pqcrypt.M_DATA_PAGE
            po = pc.page_ord
            pc.page_ord += 1
        body_mod = pc.seal(bt, body, po)
        hdr = _tstruct([
            (1, CT_I32, pg_type),
            (2, CT_I32, usize),
            (3, CT_I32, len(body_mod)),
            (5, CT_STRUCT, header_extra if pg_type == PG_DATA else None),
            (7, CT_STRUCT, header_extra if pg_type == PG_DICT else None),
        ])
        hdr_mod = pc.seal(ht, hdr, po)
        stream = hdr_mod + body_mod
        return stream, len(hdr) + usize, len(stream)
    csize = len(body)
    crc = zlib.crc32(body)
    if crc >= 1 << 31:
        crc -= 1 << 32
    hdr = _tstruct([
        (1, CT_I32, pg_type),
        (2, CT_I32, usize),
        (3, CT_I32, csize),
        (4, CT_I32, crc),
        (5, CT_STRUCT, header_extra if pg_type == PG_DATA else None),
        (7, CT_STRUCT, header_extra if pg_type == PG_DICT else None),
    ])
    return hdr + body, len(hdr) + usize, len(hdr) + csize


def _emit_data_page(out: bytearray, codec_id: int, page_version: int,
                    enc_id: int, n_entries: int, n_rows: int,
                    n_nulls: int, rep_raw: bytes | None,
                    def_raw: bytes | None,
                    values: bytes,
                    pc: "_PageCrypt | None" = None) -> tuple[int, int]:
    """One data page, either grammar. v1: u32-prefixed level streams,
    whole payload compressed. v2: raw level streams stay uncompressed
    ahead of the values, and store-uncompressed-if-bigger returns via
    the is_compressed flag (a freedom v1 does not offer). A level
    stream is None when the column has none (max level 0); an empty
    one (a 0-value page) still gets its v1 length prefix."""
    if pc is not None and page_version != 1:
        raise ValueError("modular encryption implemented for v1 pages")
    if page_version == 1:
        level = b""
        if rep_raw is not None:
            level += len(rep_raw).to_bytes(4, "little") + rep_raw
        if def_raw is not None:
            level += len(def_raw).to_bytes(4, "little") + def_raw
        phdr = _tstruct([
            (1, CT_I32, n_entries),
            (2, CT_I32, enc_id),
            (3, CT_I32, E_RLE_LEVELS),
            (4, CT_I32, E_RLE_LEVELS),
        ])
        pg, u, c = _page(PG_DATA, phdr, level + values, codec_id, pc)
        out += pg
        return u, c
    rep_raw, def_raw = rep_raw or b"", def_raw or b""
    body = values
    compressed = False
    if codec_id != 0 and len(values) > 64:
        cand = framemod._get_codec(
            framemod.COMP_IDS[_CODEC_NAMES[codec_id]],
            getattr(codec_id, "level", None)
        ).compress(values).to_pybytes()
        if len(cand) < len(values):
            body, compressed = cand, True
    usize = len(rep_raw) + len(def_raw) + len(values)
    csize = len(rep_raw) + len(def_raw) + len(body)
    crc = zlib.crc32(rep_raw + def_raw + body)
    if crc >= 1 << 31:
        crc -= 1 << 32
    v2 = _tstruct([
        (1, CT_I32, n_entries),
        (2, CT_I32, n_nulls),
        (3, CT_I32, n_rows),
        (4, CT_I32, enc_id),
        (5, CT_I32, len(def_raw)),
        (6, CT_I32, len(rep_raw)),
        (7, CT_TRUE, compressed),
    ])
    hdr = _tstruct([
        (1, CT_I32, PG_DATA_V2),
        (2, CT_I32, usize),
        (3, CT_I32, csize),
        (4, CT_I32, crc),
        (8, CT_STRUCT, v2),
    ])
    out += hdr + rep_raw + def_raw + body
    return len(hdr) + usize, len(hdr) + csize


_ENC_IDS = {"plain": E_PLAIN, "rle": E_RLE, "delta": E_DELTA_BINARY_PACKED,
            "bss": E_BYTE_STREAM_SPLIT, "delta_length": E_DELTA_LENGTH_BA,
            "delta_ba": E_DELTA_BA}


def _pick_encoding(col: _Col, arr_nonnull: pa.Array, vals, want: str):
    """-> ('dict', (uniques_arr_or_np, codes)) or (enc_name, None).

    The reference's write-side policy (encodingwrite.go + SURVEY §2.1
    cost model): dictionary when NDV and dict bytes fit the 1 MiB
    budget, else the type's delta/split default."""
    n = len(arr_nonnull)
    if want not in ("auto", "dict"):
        return want, None
    if n == 0:
        return ("rle" if col.ptype == T_BOOLEAN else "plain"), None
    if col.ptype == T_BOOLEAN:
        return "rle", None
    if col.ptype == T_FLBA:
        return "plain", None
    if col.ptype == T_BYTE_ARRAY:
        denc = arr_nonnull.cast(pa.large_binary()).dictionary_encode()
        uniq = denc.dictionary
        nd = len(uniq)
        dict_bytes = uniq.nbytes + 4 * nd
        if want == "dict" or (nd <= DICT_MAX_NDV
                              and dict_bytes <= DICT_BUDGET
                              and nd * 2 <= n):
            codes = np.asarray(denc.indices, np.int64)
            return "dict", (uniq, codes)
        return "delta_length", None
    # sampled NDV probe first: a stride sample that reads near-unique
    # proves dictionary hopeless without touching every value (the full
    # np.unique here cost ~20 s/100M elements on the token table)
    v = np.asarray(vals)
    if want != "dict" and n > (1 << 17):
        samp = v[:: max(1, n >> 17)]
        nd_s = np.unique(samp).size
        if nd_s * 2 > len(samp) or nd_s > DICT_MAX_NDV:
            return ("delta" if col.ptype in (T_INT32, T_INT64)
                    else "plain"), None
    # C++ hash, not a sort; a DECIMAL's dictionary holds its unscaled
    # storage integers, not the Decimal objects
    denc = (pa.array(v) if col.scale is not None
            else arr_nonnull).dictionary_encode()
    uniq = np.asarray(denc.dictionary)
    nd = len(uniq)
    if want == "dict" or (nd <= DICT_MAX_NDV
                          and nd * uniq.itemsize <= DICT_BUDGET
                          and nd * 2 <= n):
        codes = np.asarray(denc.indices).astype(np.int64)
        return "dict", (uniq, codes)
    if col.ptype in (T_INT32, T_INT64):
        return "delta", None
    # floats: PLAIN, the reference writer's default (encodingwrite.go) —
    # and Spark's vectorized reader rejects BYTE_STREAM_SPLIT pages, so
    # bss stays an explicit per-column override
    return "plain", None


def _decimal_words(arr: pa.Array) -> np.ndarray:
    """decimal128 array -> (n, 2) uint64 little-endian words."""
    buf = arr.buffers()[1]
    return np.frombuffer(buf, np.uint64, 2 * len(arr),
                         offset=arr.offset * 16).reshape(-1, 2)


def _extract_vals(col: _Col, nonnull: pa.Array):
    if col.scale is not None:              # DECIMAL: unscaled integers
        if len(nonnull) == 0:
            return (b"" if col.ptype == T_FLBA
                    else np.zeros(0, col.np_dtype))
        w = _decimal_words(nonnull)
        if col.ptype == T_FLBA:            # big-endian two's complement
            le = w.view(np.uint8).reshape(-1, 16)
            return np.ascontiguousarray(le[:, ::-1]).tobytes()
        return w[:, 0].view(np.int64).astype(col.np_dtype)
    if col.ptype == T_BYTE_ARRAY:
        return _bytes_and_offsets(nonnull)
    if col.ptype == T_FLBA and col.np_dtype == np.dtype("<f2"):
        return np.ascontiguousarray(
            np.asarray(nonnull, np.float16)).tobytes()
    if col.ptype == T_FLBA:
        return b"".join(nonnull.cast(pa.binary(col.type_length)).to_pylist())
    if col.ptype == T_BOOLEAN:
        return np.asarray(nonnull, bool)
    cast_t = {np.dtype("<i4"): pa.int32(), np.dtype("<i8"): pa.int64(),
              np.dtype("<f4"): pa.float32(),
              np.dtype("<f8"): pa.float64()}[col.np_dtype]
    return np.asarray(nonnull.cast(cast_t))


# ------------------- Dremel shredding (any nesting) --------------------
#
# The reference marshals arbitrarily nested Go values via reflection
# (/root/reference/marshal/marshal.go:53-375 node handlers); this is
# the same walk over an arrow type tree, but VECTORIZED: every list
# level expands its entry stream with repeat/cumsum — no per-row
# Python. Every list, map and struct column is written through here;
# flat primitive columns keep _write_chunk.

@dataclass
class _LeafShred:
    path: list[str]
    field: pa.Field        # primitive leaf (normalized nullability)
    rep: np.ndarray
    defs: np.ndarray
    values: pa.Array       # leaf values of the present entries, in entry
                           # order (nulls allowed: the chunk drops them)
    max_def: int
    max_rep: int


def _shred_general(arr: pa.Array, field: pa.Field, path: list[str],
                   rep: np.ndarray, defs: "np.ndarray | None", idx,
                   r: int, d: int, out: list, force_opt: bool = False,
                   force_req: bool = False) -> None:
    """Entries align 1:1 with ``rep``. ``idx`` is either an int64 array
    indexing ``arr`` per entry (-1 at placeholder entries of absent
    ancestors) with ``defs`` alongside — an entry is present down to
    here where its def equals ``d`` — or, on the dense path, a (lo, hi)
    range of ``arr``: every entry present, so ``defs`` is None (every
    def equals ``d``) and lists keep their values zero-copy. The dense
    path ends at the first null group or null/empty list. Lists and
    maps are always declared OPTIONAL (canonical emission); direct
    list elements / map values are forced optional, map keys required."""
    t = field.type
    is_list = pa.types.is_list(t) or pa.types.is_large_list(t)
    is_map = pa.types.is_map(t)
    is_leaf = not (is_list or is_map or pa.types.is_struct(t))
    optional = (not force_req) and (force_opt or field.nullable
                                    or is_list or is_map)
    offs = (np.asarray(arr.offsets, np.int64) if is_list or is_map
            else None)
    if isinstance(idx, tuple) and not is_leaf:
        lo, hi = idx
        if (optional and arr.slice(lo, hi - lo).null_count) or (
                offs is not None and not np.diff(offs[lo:hi + 1]).all()):
            # a null group or an empty list ends the dense path
            idx = np.arange(lo, hi, dtype=np.int64)
            defs = np.full(hi - lo, d, np.uint8)
    dense = isinstance(idx, tuple)
    if optional:
        d += 1
        if not dense:
            active = defs == d - 1
            valid = np.zeros(len(idx), bool)
            if active.any():
                valid[active] = np.asarray(arr.is_valid())[idx[active]]
            defs = defs + valid.astype(np.uint8)
    if pa.types.is_struct(t):
        for ch in t:
            child = arr.field(ch.name) if len(arr) else \
                pa.array([], ch.type)
            _shred_general(child, ch, path + [ch.name], rep, defs, idx,
                           r, d, out)
        return
    if is_leaf:
        if dense:
            vals = arr.slice(idx[0], idx[1] - idx[0])
            defs = np.full(len(vals), d, np.uint8)
            if optional and vals.null_count:
                defs[~np.asarray(vals.is_valid())] = d - 1
        else:
            pres = defs == d
            vals = (arr.take(pa.array(idx[pres], pa.int64()))
                    if pres.any() else arr.slice(0, 0))
        out.append(_LeafShred(
            path, pa.field(path[-1], t, optional, field.metadata),
            np.asarray(rep, np.uint8), np.asarray(defs, np.uint8), vals,
            d, r))
        return
    r_child, d_child = r + 1, d + 1
    if dense:
        # every list valid and non-empty: the child entries are one
        # contiguous run of the values
        o = offs[idx[0]:idx[1] + 1]
        new_rep = np.full(int(o[-1] - o[0]), r_child, np.uint8)
        new_rep[o[:-1] - o[0]] = rep
        new_defs, new_idx = None, (int(o[0]), int(o[-1]))
    else:
        active = defs == d
        counts = np.zeros(len(idx), np.int64)
        counts[active] = np.diff(offs)[idx[active]]
        ent = np.maximum(counts, 1)
        starts = np.cumsum(ent) - ent
        new_rep = np.full(int(ent.sum()), r_child, np.uint8)
        new_rep[starts] = rep
        new_defs = np.repeat(
            np.where(counts > 0, defs + 1, defs), ent).astype(np.uint8)
        child_start = np.zeros(len(idx), np.int64)
        child_start[active] = offs[:-1][idx[active]]
        within = np.arange(len(new_rep)) - np.repeat(starts, ent)
        new_idx = np.where(np.repeat(counts > 0, ent),
                           np.repeat(child_start, ent) + within, -1)
    if is_map:
        _shred_general(
            arr.keys, pa.field("key", t.key_type, False,
                               t.key_field.metadata),
            path + ["key_value", "key"], new_rep, new_defs, new_idx,
            r_child, d_child, out, force_req=True)
        _shred_general(
            arr.items, pa.field("value", t.item_type, True,
                                t.item_field.metadata),
            path + ["key_value", "value"], new_rep, new_defs, new_idx,
            r_child, d_child, out, force_opt=True)
        return
    ef = t.value_field
    _shred_general(
        arr.values, pa.field(ef.name or "element", ef.type, True,
                             ef.metadata),
        path + ["list", ef.name or "element"], new_rep, new_defs,
        new_idx, r_child, d_child, out, force_opt=True)


def _leaf_schema_elem(leaf: _Col, name: str, optional: bool) -> bytes:
    """One primitive leaf's SchemaElement."""
    return _tstruct([
        (1, CT_I32, 3 if leaf.int96 else leaf.ptype),
        (2, CT_I32, None if leaf.int96 else leaf.type_length),
        (3, CT_I32, 1 if optional else 0),
        (4, CT_BINARY, name),
        (6, CT_I32, leaf.converted),
        (7, CT_I32, leaf.scale),
        (8, CT_I32, leaf.precision),
        (10, CT_STRUCT, leaf.logical),
    ])


def _emit_schema_general(field: pa.Field, name: str, schema_elems: list,
                         force_opt: bool = False,
                         force_req: bool = False) -> None:
    """SchemaElement emission mirroring _shred_general's level
    accounting exactly (lists/maps optional, elements/values optional,
    keys required)."""
    t = field.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        schema_elems.append(_tstruct([
            (3, CT_I32, 1), (4, CT_BINARY, name), (5, CT_I32, 1),
            (6, CT_I32, CV_LIST), (10, CT_STRUCT, _logical(3)),
        ]))
        schema_elems.append(_tstruct([
            (3, CT_I32, 2), (4, CT_BINARY, "list"), (5, CT_I32, 1),
        ]))
        ef = t.value_field
        _emit_schema_general(pa.field(ef.name or "element", ef.type,
                                      True, ef.metadata),
                             ef.name or "element", schema_elems,
                             force_opt=True)
        return
    if pa.types.is_map(t):
        schema_elems.append(_tstruct([
            (3, CT_I32, 1), (4, CT_BINARY, name), (5, CT_I32, 1),
            (6, CT_I32, 1), (10, CT_STRUCT, _logical(2)),
        ]))
        schema_elems.append(_tstruct([
            (3, CT_I32, 2), (4, CT_BINARY, "key_value"), (5, CT_I32, 2),
        ]))
        _emit_schema_general(pa.field("key", t.key_type, False,
                                      t.key_field.metadata), "key",
                             schema_elems, force_req=True)
        _emit_schema_general(pa.field("value", t.item_type, True,
                                      t.item_field.metadata),
                             "value", schema_elems, force_opt=True)
        return
    optional = (not force_req) and (force_opt or field.nullable)
    if pa.types.is_struct(t):
        schema_elems.append(_tstruct([
            (3, CT_I32, 1 if optional else 0),
            (4, CT_BINARY, name),
            (5, CT_I32, t.num_fields),
        ] + _variant_annotation(field)))
        for ch in t:
            _emit_schema_general(ch, ch.name, schema_elems)
        return
    leaf = _map_type(pa.field(name, t, optional, field.metadata))
    schema_elems.append(_leaf_schema_elem(leaf, name, optional))


def _write_general_chunks(out: bytearray, field: pa.Field,
                          arr: pa.Array, codec_id: int, page_rows: int,
                          encodings: dict, write_stats: bool,
                          page_version: int, chunk_crypto, rgi: int,
                          col_base: int, want_pidx: bool,
                          bloom_columns, bloom_sizes: dict):
    """List / map / struct column -> one leaf chunk per primitive leaf
    via the Dremel shredder. Per-leaf options (encodings, blooms, bloom
    sizes) resolve by dotted leaf path, then — for a column with a
    single leaf — by the top-level column name. Returns ([chunks],
    total_uncompressed)."""
    n = len(arr)
    specs: list[_LeafShred] = []
    _shred_general(arr, field, [field.name], np.zeros(n, np.uint8), None,
                   (0, n), 0, 0, specs)
    names = [field.name] if len(specs) == 1 else []
    chunks, tot = [], 0
    for sp in specs:
        lcol = _map_type(sp.field)
        dotted = ".".join(sp.path)
        keys = [dotted] + names
        pc, crypto = chunk_crypto(sp.path, rgi, col_base + len(chunks))
        ch, u, _ = _write_levels_chunk(
            out, lcol, sp.rep, sp.defs, sp.values, n, sp.path,
            sp.max_def, codec_id, page_rows,
            next((encodings[k] for k in keys if k in encodings), "auto"),
            write_stats, page_version, pc, want_pidx, max_rep=sp.max_rep)
        ch.crypto = crypto
        if any(k in bloom_columns for k in keys):
            ch.bloom_hashes = _bloom_hashes(lcol, sp.values)
            ch.bloom_size = next(
                (bloom_sizes[k] for k in keys if k in bloom_sizes), None)
        chunks.append(ch)
        tot += u
    return chunks, tot


def _write_levels_chunk(out: bytearray, col: _Col, rep: np.ndarray,
                        defs: np.ndarray, elem_arr: pa.Array,
                        n_rows: int, path: list[str], max_def: int,
                        codec_id: int, page_rows: int, enc_want: str,
                        write_stats: bool, page_version: int = 1,
                        pc: "_PageCrypt | None" = None,
                        want_pidx: bool = False, max_rep: int = 1):
    """One leaf chunk of a list / map / struct column from its Dremel
    streams: values are present at ``max_def``; pages split on ROW
    boundaries (rep==0), so a record never splits. Level histograms are
    omitted for levels that are always 0 (max_rep or max_def 0)."""
    n_ent = len(rep)
    nonnull = elem_arr.drop_null()
    vals = _extract_vals(col, nonnull)
    enc_name, dict_pack = _pick_encoding(col, nonnull, vals, enc_want)

    chunk_start = len(out)
    dict_offset = None
    encodings = {E_RLE_LEVELS}
    tot_u = tot_c = 0
    if enc_name == "dict":
        uniques, codes = dict_pack
        if col.ptype == T_BYTE_ARRAY:
            dict_payload = plainc.encode_byte_array(
                *_bytes_and_offsets(uniques))
        else:
            dict_payload = plainc.encode_numeric(
                np.ascontiguousarray(uniques, col.np_dtype))
        dhdr = _tstruct([(1, CT_I32, len(uniques)), (2, CT_I32, E_PLAIN)])
        dict_offset = len(out)
        pg, u, c = _page(PG_DICT, dhdr, dict_payload, codec_id, pc)
        out += pg
        tot_u += u
        tot_c += c
        encodings |= {E_PLAIN, E_RLE_DICTIONARY}
        enc_id = E_RLE_DICTIONARY
        bw = max(1, dictionary.index_bit_width(len(uniques)))
    else:
        enc_id = _ENC_IDS[enc_name]
        encodings.add(enc_id)

    # entry/value prefix indexes for page slicing on row boundaries
    ent_of_row = np.zeros(n_rows + 1, np.int64)
    row_starts = np.flatnonzero(rep == 0)
    ent_of_row[:-1] = row_starts
    ent_of_row[-1] = n_ent
    present = defs == max_def
    val_prefix = np.zeros(n_ent + 1, np.int64)
    np.cumsum(present, out=val_prefix[1:])

    data_offset = len(out)
    bw_def, bw_rep = max_def.bit_length(), max_rep.bit_length()
    pages: list[_PageRec] = []
    ci_ok = want_pidx and write_stats   # stats_omit silences the
                                        # ColumnIndex bounds too
    n_pages = 0
    row = 0
    while True:
        hi_row = min(row + page_rows, n_rows)
        s_ent, e_ent = int(ent_of_row[row]), int(ent_of_row[hi_row])
        v_lo, v_hi = int(val_prefix[s_ent]), int(val_prefix[e_ent])
        rep_raw = (rle.encode(rep[s_ent:e_ent], bw_rep)
                   if max_rep else None)
        def_raw = (rle.encode(defs[s_ent:e_ent], bw_def)
                   if max_def else None)
        if enc_name == "dict":
            body = bytes([bw]) + rle.encode(codes[v_lo:v_hi], bw)
        else:
            body = _encode_values(col, enc_id,
                                  _slice_vals(col, vals, v_lo, v_hi))
        pg_off = len(out)
        u, c = _emit_data_page(
            out, codec_id, page_version, enc_id, e_ent - s_ent,
            hi_row - row, (e_ent - s_ent) - (v_hi - v_lo), rep_raw,
            def_raw, body, pc)
        if want_pidx:
            mn = mx = None
            if ci_ok:
                mn, mx, ok = _page_minmax(col, nonnull, vals, v_lo, v_hi)
                ci_ok &= ok
            ub = (int(vals[1][v_hi] - vals[1][v_lo])
                  if col.ptype == T_BYTE_ARRAY else None)
            pages.append(_PageRec(
                pg_off, c, row, (e_ent - s_ent) - (v_hi - v_lo), mn, mx,
                dh=np.bincount(defs[s_ent:e_ent],
                               minlength=max_def + 1).tolist()
                if max_def else None,
                rh=np.bincount(rep[s_ent:e_ent],
                               minlength=max_rep + 1).tolist()
                if max_rep else None,
                ub=ub))
        tot_u += u
        tot_c += c
        n_pages += 1
        row = hi_row
        if row >= n_rows:
            break

    stats_struct = (_chunk_stats(col, nonnull, vals,
                                 n_ent - int(present.sum()))
                    if write_stats and not col.geo else None)
    geo_struct = _geo_stats_struct(col, nonnull)
    meta_fields = [
        (1, CT_I32, col.ptype),
        (2, CT_LIST, (CT_I32, sorted(encodings))),
        (3, CT_LIST, (CT_BINARY, path)),
        (4, CT_I32, codec_id),
        (5, CT_I64, n_ent),
        (6, CT_I64, tot_u),
        (7, CT_I64, tot_c),
        (9, CT_I64, data_offset),
        (11, CT_I64, dict_offset),
        (12, CT_STRUCT, stats_struct),
        _enc_stats_field(dict_offset, page_version, enc_id, n_pages),
        (16, CT_STRUCT, _size_stats_struct(
            col, rep, defs, max_rep, max_def, nonnull)),
        (17, CT_STRUCT, geo_struct),
    ]
    return _Chunk(meta_fields, chunk_start,
                  pages=pages if want_pidx else None, ci_ok=ci_ok,
                  col=col), tot_u, True


def _write_chunk(out: bytearray, col: _Col, arr: pa.Array, codec_id: int,
                 page_rows: int, enc_want: str, write_stats: bool,
                 page_version: int = 1, pc: "_PageCrypt | None" = None,
                 want_pidx: bool = False, force_optional: bool = False):
    """Append one flat primitive column chunk's pages; return its
    ColumnChunk struct."""
    n_total = len(arr)
    null_count = arr.null_count
    # optionality is a COLUMN property, not a chunk property: a
    # null-free row group of a column that has nulls elsewhere
    # must still carry def-level streams, or the schema's OPTIONAL
    # declaration makes every reader mis-parse its pages (pyarrow:
    # "corrupt data page"; found by review, pinned in
    # test_pqwriter.py::test_nulls_in_one_row_group_only)
    optional = force_optional or null_count > 0
    defs = np.asarray(arr.is_valid(), np.uint8) if optional else None
    max_def, path = 1, [col.name]
    nonnull = arr.drop_null() if optional else arr
    bw_def = max_def.bit_length()
    vals = _extract_vals(col, nonnull)

    enc_name, dict_pack = _pick_encoding(col, nonnull, vals, enc_want)
    chunk_start = len(out)
    dict_offset = None
    encodings = {E_RLE_LEVELS}
    tot_u = tot_c = 0

    if enc_name == "dict":
        uniques, codes = dict_pack
        if col.ptype == T_BYTE_ARRAY:
            dict_payload = plainc.encode_byte_array(
                *_bytes_and_offsets(uniques))
            nd = len(uniques)
        else:
            dict_payload = plainc.encode_numeric(
                np.ascontiguousarray(uniques, col.np_dtype))
            nd = len(uniques)
        dhdr = _tstruct([(1, CT_I32, nd), (2, CT_I32, E_PLAIN)])
        dict_offset = len(out)
        pg, u, c = _page(PG_DICT, dhdr, dict_payload, codec_id, pc)
        out += pg
        tot_u += u
        tot_c += c
        encodings |= {E_PLAIN, E_RLE_DICTIONARY}
        enc_id = E_RLE_DICTIONARY
        bw = max(1, dictionary.index_bit_width(nd))
    else:
        enc_id = _ENC_IDS[enc_name]
        encodings.add(enc_id)

    data_offset = len(out)
    # paged emission: the level stream and the value stream advance at
    # different rates when nulls are present
    pages: list[_PageRec] = []
    ci_ok = want_pidx and write_stats   # stats_omit silences the
                                        # ColumnIndex bounds too
    n_pages = 0
    row = vpos = 0
    while True:
        hi_row = min(row + page_rows, n_total)
        if optional:
            pdefs = defs[row:hi_row]
            v_lo, v_hi = vpos, vpos + int((pdefs == max_def).sum())
            def_raw = rle.encode(pdefs, bw_def)
        else:
            v_lo, v_hi = row, hi_row
            def_raw = None
        if enc_name == "dict":
            body = bytes([bw]) + rle.encode(codes[v_lo:v_hi], bw)
        else:
            body = _encode_values(col, enc_id,
                                  _slice_vals(col, vals, v_lo, v_hi))
        pg_off = len(out)
        u, c = _emit_data_page(
            out, codec_id, page_version, enc_id, hi_row - row,
            hi_row - row, (hi_row - row) - (v_hi - v_lo), None, def_raw,
            body, pc)
        if want_pidx:
            mn = mx = None
            if ci_ok:
                mn, mx, ok = _page_minmax(col, nonnull, vals, v_lo, v_hi)
                ci_ok &= ok
            ub = (int(vals[1][v_hi] - vals[1][v_lo])
                  if col.ptype == T_BYTE_ARRAY and not col.int96
                  else None)
            dh = (np.bincount(defs[row:hi_row],
                              minlength=max_def + 1).tolist()
                  if defs is not None else None)
            pages.append(_PageRec(pg_off, c, row,
                                  (hi_row - row) - (v_hi - v_lo), mn, mx,
                                  dh=dh, ub=ub))
        tot_u += u
        tot_c += c
        n_pages += 1
        vpos, row = v_hi, hi_row
        if row >= n_total:
            break

    stats_struct = (_chunk_stats(col, nonnull, vals, null_count)
                    if write_stats and not col.int96 and not col.geo
                    else None)                # GEOMETRY order is
                                              # undefined: no min/max
    meta_fields = [
        (1, CT_I32, 3 if col.int96 else col.ptype),
        (2, CT_LIST, (CT_I32, sorted(encodings))),
        (3, CT_LIST, (CT_BINARY, path)),
        (4, CT_I32, codec_id),
        (5, CT_I64, n_total),
        (6, CT_I64, tot_u),
        (7, CT_I64, tot_c),
        (9, CT_I64, data_offset),
        (11, CT_I64, dict_offset),
        (12, CT_STRUCT, stats_struct),
        _enc_stats_field(dict_offset, page_version, enc_id, n_pages),
        (16, CT_STRUCT, _size_stats_struct(
            col, None, defs, 0, max_def, nonnull)),
        (17, CT_STRUCT, _geo_stats_struct(col, nonnull)),
    ]
    return _Chunk(meta_fields, chunk_start,
                  pages=pages if want_pidx else None, ci_ok=ci_ok,
                  col=col), tot_u, optional


def _variant_annotation(field: pa.Field) -> list:
    """Shared VARIANT group handling for both schema emitters: validate
    the spec layout (metadata/value children) and return the
    LogicalType field to splice into the group's SchemaElement."""
    md = field.metadata or {}
    if md.get(b"pgs_logical") != b"variant":
        return []
    names = [f.name for f in field.type]
    if "metadata" not in names or "value" not in names:
        raise ValueError(
            f"variant column {field.name!r} needs metadata/"
            "value children (spec group layout)")
    return [(10, CT_STRUCT, _logical(16, _tstruct([(1, 3, 1)])))]


def _bloom_hashes(col: _Col, arr: pa.Array) -> np.ndarray:
    """xxHash64 (seed 0) of the PLAIN-encoded distinct values — the
    parquet spec's SBBF hash input (engine kernel: bloom.py, the same
    split-block filter the PGS store uses)."""
    from . import bloom as bloommod

    uniq = pc.unique(arr).drop_null()
    if len(uniq) == 0:
        return np.zeros(0, np.uint64)
    if col.ptype in (T_INT64,):
        v = np.asarray(uniq.cast(pa.int64()))
        return bloommod.xxhash64_u64(v.view(np.uint64))
    if col.ptype == T_INT32:
        v = np.ascontiguousarray(np.asarray(uniq.cast(pa.int32())), "<i4")
        return bloommod.xxhash64_u32(v)
    if col.ptype in (T_FLOAT, T_DOUBLE):
        v = np.ascontiguousarray(np.asarray(uniq), col.np_dtype)
        return (bloommod.xxhash64_u32(v) if v.dtype.itemsize == 4
                else bloommod.xxhash64_u64(v.view(np.int64)))
    if col.ptype in (T_BYTE_ARRAY, T_FLBA):
        vals = [x.encode() if isinstance(x, str) else bytes(x)
                for x in uniq.to_pylist()]
        return bloommod.xxhash64_bytes(vals)
    raise ValueError(f"bloom filter unsupported for {col.name!r}")


def _write_blooms(out: bytearray, chunks: "list[_Chunk]") -> None:
    """Append spec SBBF bloom filters (BloomFilterHeader + bitset) for
    every chunk that carries hashes; patch offsets into the meta."""
    from . import bloom as bloommod

    union1 = _tstruct([(1, CT_STRUCT, _EMPTY)])
    for ch in chunks:
        h = ch.bloom_hashes
        if h is None or len(h) == 0:
            continue
        if ch.bloom_size:
            bf = bloommod.SplitBlockBloom.with_bytes(ch.bloom_size)
        else:
            bf = bloommod.SplitBlockBloom.sized(len(h))
        bf.insert_hashes(h)
        bitset = bf.words.tobytes()
        hdr = _tstruct([
            (1, CT_I32, len(bitset)),
            (2, CT_STRUCT, union1),    # SplitBlockAlgorithm
            (3, CT_STRUCT, union1),    # XxHash
            (4, CT_STRUCT, union1),    # Uncompressed
        ])
        off = len(out)
        out += hdr
        out += bitset
        ch.meta_fields.append((14, CT_I64, off))
        ch.meta_fields.append((15, CT_I32, len(hdr) + len(bitset)))
        # keep field ids ascending (geospatial_statistics is 17)
        ch.meta_fields.sort(key=lambda f: f[0])


def write_table(table: pa.Table, path: str, compression: str = "snappy",
                encodings: dict[str, str] | None = None,
                row_group_rows: int = 1 << 20, page_rows: int = 1 << 16,
                stats: bool = True,
                bloom_columns: list[str] | None = None,
                page_version: int = 1,
                int96_timestamps: "bool | set[str]" = False,
                encryption=None, page_index: bool = True,
                sorting_columns: list | None = None,
                row_group_bytes: int | None = None,
                page_bytes: int | None = None,
                logical_types: dict[str, str] | None = None,
                stats_omit: "set[str] | list[str] | None" = None,
                compressions: dict[str, str] | None = None,
                bloom_sizes: dict[str, int] | None = None) -> None:
    """Write an arrow table as a real Parquet file via engine codecs.

    ``logical_types``: per-column annotation — uuid | json | bson |
    enum | interval — over the matching arrow shape (uuid =
    fixed_size_binary(16), json/enum = string, bson = binary,
    interval = fixed_size_binary(12)); equivalent to tagging the field
    metadata key ``pgs_logical``.

    ``int96_timestamps``: True stores every top-level timestamp column
    as legacy physical INT96, a set of names only those columns.

    ``stats_omit``: per-column Statistics suppression (the reference's
    ``omitstats=true`` field tag — large array fields whose bounds are
    useless but expensive).

    ``encodings``: per-column override — plain | rle | delta | bss |
    delta_length | delta_ba | dict | auto (default auto).

    ``page_index``: emit the spec PageIndex (ColumnIndex + OffsetIndex
    per chunk, parquet.thrift; the reference writes both in WriteStop —
    /root/reference/writer/ops.go:28-117). Auto-disabled under modular
    encryption (index modules not sealed, same scope rule as blooms).

    ``sorting_columns``: declared sort order of the rows, recorded as
    RowGroup.sorting_columns — entries are ``(column, descending,
    nulls_first)`` or a bare column name (ascending, nulls last).

    ``compression`` / ``compressions``: block codec, optionally with a
    numeric level — ``"zstd:3"``, ``"gzip:9"``, ``"brotli:11"`` (the
    reference's ``compression=ZSTD:3`` tag grammar, common/tag.go:97-110
    + per-(codec,level) shared compressors, writer/writer.go:282-318).
    ``compressions`` overrides per top-level column; nested leaves
    inherit their column's spec."""
    codec_id = _codec_spec(compression)
    col_codec_ids = {name: _codec_spec(spec)
                     for name, spec in (compressions or {}).items()}
    for name in col_codec_ids:
        if name not in table.schema.names:
            raise ValueError(f"compressions: unknown column {name!r}")
    if encryption is not None and bloom_columns:
        raise ValueError("bloom filters with modular encryption are "
                         "out of scope (bloom modules not sealed)")
    encodings = encodings or {}
    stats_omit = set(stats_omit or ())
    table = table.combine_chunks()
    if logical_types:
        for col, kind in logical_types.items():
            i = table.schema.get_field_index(col)
            if i < 0:
                raise ValueError(f"logical_types: no column {col!r}")
            fl = table.schema.field(i)
            arr = table.column(i)
            extra_md = {}
            if isinstance(kind, dict):
                # {"kind": "geography", "crs": ..., "algorithm": ...}
                spec = dict(kind)
                kind = spec.pop("kind")
                if "crs" in spec:
                    extra_md[b"pgs_geo_crs"] = \
                        str(spec.pop("crs")).encode()
                if "algorithm" in spec:
                    extra_md[b"pgs_geo_algorithm"] = \
                        str(spec.pop("algorithm")).encode()
                if spec:
                    raise ValueError(
                        f"logical_types[{col!r}]: unknown keys "
                        f"{sorted(spec)}")
            fixed_w = {"uuid": 16, "interval": 12}.get(kind)
            if fixed_w is not None and (
                    pa.types.is_binary(fl.type)
                    or pa.types.is_large_binary(fl.type)):
                # convenience: Spark ships variable binary — tighten to
                # the spec's fixed width (cast validates every length)
                arr = arr.cast(pa.binary(fixed_w))
                fl = pa.field(fl.name, pa.binary(fixed_w), fl.nullable,
                              fl.metadata)
            md = dict(fl.metadata or {})
            md[b"pgs_logical"] = kind.encode()
            md.update(extra_md)
            table = table.set_column(i, fl.with_metadata(md), arr)
    if int96_timestamps:
        # legacy Impala layout (the reference's
        # encodingwrite_plain.go:89-95): timestamp columns become
        # INT96 12-byte values via the engine's int96 kernel
        from . import int96 as i96mod

        i96_cols = set()
        for i, f in enumerate(table.schema):
            if pa.types.is_timestamp(f.type) and (
                    int96_timestamps is True or f.name in int96_timestamps):
                conv = i96mod.timestamps_to_int96(
                    table.column(i).combine_chunks())
                table = table.set_column(
                    i, pa.field(f.name, pa.binary(12), f.nullable), conv)
                i96_cols.add(f.name)
    # None: a list / map / struct column, shredded leaf by leaf
    cols = [None if pa.types.is_nested(f.type) else _map_type(f)
            for f in table.schema]
    if int96_timestamps:
        for c in cols:
            if c is not None and c.name in i96_cols:
                c.int96 = True

    if (row_group_bytes or page_bytes) and table.num_rows:
        # size-targeted grouping (the reference's rowGroupSize/pageSize
        # byte budgets, writer/writer.go defaults 128M/8K, sized from
        # an average-row estimate like its moving objSize average)
        row_bytes = max(1, table.nbytes // table.num_rows)
        if row_group_bytes:
            row_group_rows = max(1, row_group_bytes // row_bytes)
        if page_bytes:
            page_rows = max(1, page_bytes // row_bytes)
    want_pidx = page_index and encryption is None
    out = bytearray(
        b"PARE" if (encryption is not None
                    and not encryption.plaintext_footer) else MAGIC)
    all_chunks: list = []
    n = table.num_rows
    col_optional = {c.name: False for c in cols if c is not None}
    # column-level nulliness decided ONCE for the whole table so every
    # row group of a with-nulls column writes def streams
    col_has_nulls = {
        f.name: table.column(i).null_count > 0
        for i, (c, f) in enumerate(zip(cols, table.schema))
        if c is not None}
    ptf = encryption is not None and encryption.plaintext_footer

    def _chunk_crypto(path, rgi, ci):
        """-> (_PageCrypt, crypto tuple) for one leaf chunk, or (None,
        None). The column key resolves by dotted leaf path, then by
        the top-level column name (one key for every leaf of it)."""
        if encryption is None:
            return None, None
        ckey = encryption.column_keys.get(
            ".".join(path), encryption.column_keys.get(path[0]))
        if ckey is not None:
            key, kmd = ckey
            return (_PageCrypt(key, encryption.aad_base, rgi, ci,
                               encryption.ctr),
                    ("column", path, key, kmd, encryption.aad_base,
                     rgi, ci))
        return (_PageCrypt(encryption.footer_key, encryption.aad_base,
                           rgi, ci, encryption.ctr),
                ("footer", path, encryption.footer_key, None,
                 encryption.aad_base, rgi, ci))

    for rgi, lo in enumerate(range(0, max(n, 1), row_group_rows)):
        hi = min(lo + row_group_rows, n)
        chunks, rg_u = [], 0
        for i, col in enumerate(cols):
            ca = table.column(i).slice(lo, hi - lo)
            if ca.num_chunks == 1:
                arr = ca.chunk(0)
            elif ca.num_chunks == 0:
                arr = pa.array([], table.schema.field(i).type)
            else:
                arr = pa.concat_arrays(ca.chunks)
            field = table.schema.field(i)
            col_stats = stats and field.name not in stats_omit
            cid = col_codec_ids.get(field.name, codec_id)
            if col is None:
                gchunks, u = _write_general_chunks(
                    out, field, arr, cid, page_rows, encodings,
                    col_stats, page_version, _chunk_crypto, rgi,
                    len(chunks), want_pidx, bloom_columns or (),
                    bloom_sizes or {})
                for ch in gchunks:
                    ch.ptf = ptf
                chunks += gchunks
                rg_u += u
                continue
            pc, crypto = _chunk_crypto([col.name], rgi, len(chunks))
            chunk, u, opt = _write_chunk(
                out, col, arr, cid, page_rows,
                encodings.get(col.name, "auto"), col_stats,
                page_version=page_version, pc=pc, want_pidx=want_pidx,
                force_optional=col_has_nulls[col.name])
            chunk.crypto = crypto
            chunk.ptf = ptf
            if bloom_columns and col.name in bloom_columns:
                chunk.bloom_hashes = _bloom_hashes(col, arr)
                chunk.bloom_size = (bloom_sizes or {}).get(col.name)
            col_optional[col.name] |= opt
            chunks.append(chunk)
            rg_u += u
        all_chunks.append((chunks, rg_u, hi - lo))

    flat_chunks = [c for chunks, _, _ in all_chunks for c in chunks]
    _write_blooms(out, flat_chunks)
    if want_pidx:
        _write_page_index(out, flat_chunks)
    sort_structs = None
    if sorting_columns:
        # SortingColumn.column_idx indexes the row group's LEAF order
        leaf_paths = [[p.decode() if isinstance(p, bytes) else p
                       for p in c.meta_fields[2][2][1]]
                      for c in all_chunks[0][0]]
        sort_structs = []
        for sc in sorting_columns:
            name, desc, nf = ((sc, False, False)
                              if isinstance(sc, str) else sc)
            idx = next((i for i, p in enumerate(leaf_paths)
                        if ".".join(p) == name or p[0] == name), None)
            if idx is None:
                raise ValueError(
                    f"sorting column {name!r} matches no leaf")
            sort_structs.append(_tstruct([
                (1, CT_I32, idx),
                (2, CT_TRUE, bool(desc)),
                (3, CT_TRUE, bool(nf)),
            ]))
    row_groups = []
    for rgi, (chunks, rg_u, rg_rows) in enumerate(all_chunks):
        rg_c = sum(next(v for fid, _, v in c.meta_fields if fid == 7)
                   for c in chunks)
        row_groups.append(_tstruct([
            (1, CT_LIST, (CT_STRUCT, [c.serialize() for c in chunks])),
            (2, CT_I64, rg_u),
            (3, CT_I64, rg_rows),
            (4, CT_LIST, (CT_STRUCT, sort_structs))
            if sort_structs else (4, CT_LIST, None),
            # parquet.thrift RowGroup: 5 file_offset, 6 total_
            # compressed_size, 7 ordinal (i16). Mis-numbering these
            # silently LOSES ROWS in Spark: its split assignment takes
            # the row group whose (file_offset + size/2) midpoint lands
            # in the split, so a wrong size pushes midpoints out of
            # every split — caught by the JVM-reader referee test.
            (5, CT_I64, chunks[0].start if chunks else None),
            (6, CT_I64, rg_c),
            (7, CT_I16, rgi),
        ]))

    schema_elems = [_tstruct([(4, CT_BINARY, "schema"),
                              (5, CT_I32, len(cols))])]
    for col, field in zip(cols, table.schema):
        if col is None:
            _emit_schema_general(field, field.name, schema_elems)
        else:
            schema_elems.append(_leaf_schema_elem(
                col, field.name, field.nullable and col_optional[col.name]))

    # ColumnOrder TYPE_ORDER per leaf: without FileMetaData.column_orders
    # readers must ignore min_value/max_value (parquet.thrift §ColumnOrder)
    type_order = _tstruct([(1, CT_STRUCT, _EMPTY)])
    footer_fields = [
        (1, CT_I32, 2),
        (2, CT_LIST, (CT_STRUCT, schema_elems)),
        (3, CT_I64, n),
        (4, CT_LIST, (CT_STRUCT, row_groups)),
        (6, CT_BINARY, "parquet_go_spark version 0.3.0"),
        (7, CT_LIST, (CT_STRUCT,
                      [type_order] * (len(all_chunks[0][0])
                                      if all_chunks else len(cols)))),
    ]
    if encryption is not None and encryption.plaintext_footer:
        from . import pqcrypt as _pqc

        algo_s = _tstruct([(2 if encryption.ctr else 1, CT_STRUCT,
                            _tstruct([
            (1, CT_BINARY,
             encryption.aad_prefix
             if (encryption.aad_prefix
                 and not encryption.supply_aad_prefix) else None),
            (2, CT_BINARY, encryption._aad_unique),
            (3, CT_TRUE, encryption.supply_aad_prefix),
        ]))])
        footer_fields.append((8, CT_STRUCT, algo_s))
        footer_fields.append(
            (9, CT_BINARY, encryption.footer_key_metadata or None))
    footer = _tstruct(footer_fields)
    if encryption is not None and encryption.plaintext_footer:
        # signed cleartext footer: footer || nonce || GCM tag
        import os as _os

        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        from . import pqcrypt

        nonce = _os.urandom(12)
        ct = AESGCM(encryption.footer_key).encrypt(
            nonce, footer,
            pqcrypt.module_aad(encryption.aad_base, pqcrypt.M_FOOTER))
        signed = footer + nonce + ct[-16:]
        out += signed
        out += struct.pack("<I", len(signed))
        out += MAGIC
    elif encryption is not None:
        from . import pqcrypt

        mod = pqcrypt.seal_module(
            encryption.footer_key,
            pqcrypt.module_aad(encryption.aad_base, pqcrypt.M_FOOTER),
            footer)
        algo = _tstruct([(2 if encryption.ctr else 1, CT_STRUCT,
                          _tstruct([
            (1, CT_BINARY,
             encryption.aad_prefix
             if (encryption.aad_prefix
                 and not encryption.supply_aad_prefix) else None),
            (2, CT_BINARY, encryption._aad_unique),
            (3, CT_TRUE, encryption.supply_aad_prefix),
        ]))])
        fcm = _tstruct([
            (1, CT_STRUCT, algo),
            (2, CT_BINARY, encryption.footer_key_metadata or None),
        ])
        out += fcm
        out += mod
        out += struct.pack("<I", len(fcm) + len(mod))
        out += b"PARE"
    else:
        out += footer
        out += struct.pack("<I", len(footer))
        out += MAGIC
    from . import pqsource

    pqsource.write_all(path, bytes(out))


def _geo_stats_struct(col: _Col, nonnull: pa.Array) -> bytes | None:
    """Per-chunk GeospatialStatistics (ColumnMetaData field 17;
    reference internal/layout/chunk.go:124-173 folds the same bbox):
    {1: BoundingBox{xmin,xmax,ymin,ymax}, 2: [wkb type codes]}."""
    if not col.geo or len(nonnull) == 0:
        return None
    from . import geo as geomod

    st = geomod.geo_stats(nonnull)
    if st is None:
        return None
    fields = []
    bbox = st.get("bbox")
    if bbox:
        xmin, ymin, xmax, ymax = bbox
        fields.append((1, CT_STRUCT, _tstruct([
            (1, CT_DOUBLE, xmin), (2, CT_DOUBLE, xmax),
            (3, CT_DOUBLE, ymin), (4, CT_DOUBLE, ymax)])))
    types = st.get("types")
    if types:
        fields.append((2, CT_LIST, (CT_I32, sorted(types))))
    return _tstruct(fields) if fields else None


def _size_stats_struct(col: _Col, reps, defs, max_rep: int,
                       max_def: int, nonnull: pa.Array) -> bytes | None:
    """SizeStatistics (ColumnMetaData field 16; reference
    internal/layout/chunk.go:216-266 aggregates the same three
    members): definition/repetition level histograms + unencoded
    BYTE_ARRAY data bytes (variable-width payload only, lengths
    excluded). None when there is nothing to report — required flat
    non-BYTE_ARRAY columns, matching the reference's nil return."""
    fields = []
    if col.ptype == T_BYTE_ARRAY and not col.int96:
        arr = nonnull
        if pa.types.is_string(arr.type) or \
                pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.large_binary())
        ub = pc.sum(pc.binary_length(arr)).as_py() if len(arr) else 0
        fields.append((1, CT_I64, int(ub or 0)))
    if max_rep > 0 and reps is not None:
        rh = np.bincount(np.asarray(reps, np.int64),
                         minlength=max_rep + 1).tolist()
        fields.append((2, CT_LIST, (CT_I64, rh)))
    if max_def > 0 and defs is not None:
        dh = np.bincount(np.asarray(defs, np.int64),
                         minlength=max_def + 1).tolist()
        fields.append((3, CT_LIST, (CT_I64, dh)))
    return _tstruct(fields) if fields else None
