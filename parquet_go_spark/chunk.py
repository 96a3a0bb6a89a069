"""Typed column-chunk encode/decode — the analog of parquet-go's
Table -> Page pipeline (/root/reference/internal/layout/page_write.go:144-197
and page_write_encode.go:15-243), collapsed to one frame per (partition,
column) chunk: with ~10^6-row partitions a single frame is the natural page.

Responsibilities:
  * split validity (definition levels degenerate to a null bitmap for our
    flat schema — SURVEY.md §1.4),
  * pick a codec via the sampled cost model (cost.py) when codec="auto",
  * encode with the chosen kernel, then re-check against PLAIN and fall
    back if the estimate lost (the reference's dict-overflow fallback,
    dictpage.go:161-195, generalized),
  * wrap in a self-describing frame with stats for the lineage manifest.

Everything is vectorized numpy/Arrow; no per-row Python.
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np
import pyarrow as pa

from . import cost, frame, native
from .codecs import (
    alp, bitpack, bss, delta, deltaba, dictionary, fsst, plainc, rans, rle,
)


def relax_nullability(t: pa.DataType) -> pa.DataType:
    """Nested twin of a type with every child field nullable. Spark's
    arrow bridges treat nullability as advisory (Spark re-enforces its
    own), but pyarrow casts INTO a not-null nested field fail — decoded
    chunks must cast to the relaxed twin. One spelling, shared by the
    native source reader and the operator decode path."""
    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, relax_nullability(f.type)) for f in t]
        )
    if pa.types.is_list(t):
        return pa.list_(relax_nullability(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(relax_nullability(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(relax_nullability(t.key_type),
                       relax_nullability(t.item_type))
    return t


def _int_minmax(vals: np.ndarray) -> tuple[int, int]:
    """Min/max for manifest stats — one C pass when the native kernels are
    available (instead of numpy's two), numpy otherwise."""
    if native.HAVE and vals.itemsize in (4, 8) and vals.flags.c_contiguous:
        return native.minmax(vals)
    return vals.min().item(), vals.max().item()

# paged-chunk container: PAGE_MAGIC + u32 n_pages + n_pages * u64 frame
# lengths, then the frames back to back. A chunk under the page threshold
# stays a bare frame (PGS1 magic), so the two container forms are
# distinguishable from the first 4 bytes and old blobs stay readable.
PAGE_MAGIC = b"PGSP"
MAX_PAGES = 1 << 20

_INT_TYPES = {
    frame.LT_INT32: (np.int32, 4),
    frame.LT_INT64: (np.int64, 8),
    frame.LT_TIMESTAMP_US: (np.int64, 8),
    frame.LT_DATE32: (np.int32, 4),
}
_FLOAT_TYPES = {frame.LT_FLOAT32: np.float32, frame.LT_FLOAT64: np.float64}

# LT_INT_EXT param values: arrow type name -> (signed, byte width)
_EXT_INT_PARAMS = {
    "int8": (1, 1), "int16": (1, 2),
    "uint8": (0, 1), "uint16": (0, 2), "uint32": (0, 4), "uint64": (0, 8),
}
_EXT_INT_NPDT = {
    (1, 1): np.int8, (1, 2): np.int16,
    (0, 1): np.uint8, (0, 2): np.uint16, (0, 4): np.uint32, (0, 8): np.uint64,
}

# LT_TEMPORAL unit codes (shared by timestamp/time/duration params)
_UNIT_CODES = {"s": 0, "ms": 1, "us": 2, "ns": 3}
_UNIT_NAMES = {v: k for k, v in _UNIT_CODES.items()}

# logical types whose frames carry a param section before the validity
_PARAM_LTS = (
    frame.LT_FLBA,
    frame.LT_DECIMAL,
    frame.LT_STRUCT,
    frame.LT_INT_EXT,
    frame.LT_TEMPORAL,
)


def _logical_type(t: pa.DataType) -> int:
    if pa.types.is_int32(t):
        return frame.LT_INT32
    if pa.types.is_int64(t):
        return frame.LT_INT64
    if pa.types.is_float32(t):
        return frame.LT_FLOAT32
    if pa.types.is_float64(t):
        return frame.LT_FLOAT64
    if pa.types.is_boolean(t):
        return frame.LT_BOOL
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return frame.LT_STRING
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return frame.LT_BINARY
    if pa.types.is_timestamp(t):
        # unit-us naive keeps the original logical type (byte-compat with
        # round-1 frames); any other unit or a tz rides LT_TEMPORAL — the
        # old path silently cast ns->us (precision loss) and dropped tz
        if t.unit == "us" and t.tz is None:
            return frame.LT_TIMESTAMP_US
        return frame.LT_TEMPORAL
    if pa.types.is_time32(t) or pa.types.is_time64(t) or pa.types.is_duration(t):
        return frame.LT_TEMPORAL
    if (
        pa.types.is_int8(t)
        or pa.types.is_int16(t)
        or pa.types.is_uint8(t)
        or pa.types.is_uint16(t)
        or pa.types.is_uint32(t)
        or pa.types.is_uint64(t)
    ):
        return frame.LT_INT_EXT
    if pa.types.is_date32(t):
        return frame.LT_DATE32
    if pa.types.is_fixed_size_binary(t):
        return frame.LT_FLBA
    if pa.types.is_float16(t):
        return frame.LT_FLOAT16
    if pa.types.is_decimal128(t):
        return frame.LT_DECIMAL
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        _logical_type(t.value_type)  # validate child is supported (recurses)
        return frame.LT_LIST_INT32   # generic list: child type lives in sub-frame
    if pa.types.is_struct(t):
        for f in t:
            _logical_type(f.type)    # validate children (recurses)
        return frame.LT_STRUCT
    if pa.types.is_map(t):
        _logical_type(t.key_type)
        _logical_type(t.item_type)
        return frame.LT_MAP
    raise NotImplementedError(f"unsupported column type {t}")


def _as_array(col: Any) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        return col.combine_chunks()
    if isinstance(col, pa.Array):
        return col
    return pa.array(col)


def _str_parts(a: pa.Array) -> tuple[pa.Buffer | bytes, np.ndarray]:
    """(data, int64 offsets) for a null-free string/binary array."""
    off_dt = (
        np.int64
        if pa.types.is_large_string(a.type) or pa.types.is_large_binary(a.type)
        else np.int32
    )
    bufs = a.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dt)[
        a.offset : a.offset + len(a) + 1
    ].astype(np.int64)
    data = bufs[2] if bufs[2] is not None else b""
    return data, offsets


# ---------------------------------------------------------------- encoding


def _encode_int_sections(
    vals: np.ndarray, itemsize: int, codec: int
) -> tuple[list[bytes], int]:
    """Returns (sections, bit_width_for_header)."""
    if codec == frame.PLAIN:
        return [plainc.encode_numeric(vals)], 0
    if codec == frame.FOR_BITPACK:
        vmin = int(vals.min()) if len(vals) else 0
        shifted = (vals.astype(np.int64) - vmin).astype(np.uint64)
        bw = max(int(shifted.max()).bit_length(), 1) if len(vals) else 1
        return (
            [int(vmin).to_bytes(8, "little", signed=True) + bitpack.pack(shifted, bw)],
            bw,
        )
    if codec == frame.RLE:
        # full-width RLE like the reference (page_write_encode.go:21-40)
        bw = itemsize * 8
        u = vals.astype(np.int64).view(np.uint64)
        if itemsize == 4:
            u = u & np.uint64(0xFFFFFFFF)
        return [rle.encode(u, bw)], bw
    if codec == frame.DELTA_BP:
        return [delta.encode(vals, itemsize)], 0
    if codec == frame.BSS:
        return [bss.encode(vals)], 0
    if codec == frame.RANS:
        return [rans.encode_ints(vals)], 0
    if codec in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
        built = dictionary.build_numeric(vals)
        if built is None:
            return [plainc.encode_numeric(vals)], 0  # budget fallback
        uniques, codes = built
        sect0 = len(uniques).to_bytes(4, "little") + plainc.encode_numeric(uniques)
        if codec == frame.DICT_RANS:
            idx = rans.encode_ints(codes)
        elif codec == frame.DICT_BSS:
            idx = dictionary.encode_codes_bss(codes, len(uniques))
        else:
            idx = dictionary.encode_indices(codes, len(uniques))
        return [sect0, idx], 0
    raise ValueError(f"codec {codec} invalid for integer column")


def _decode_int_sections(meta: frame.FrameMeta, n: int, dtype, itemsize: int, s0: int):
    codec = meta.codec
    sections = meta.sections
    if codec == frame.PLAIN:
        return plainc.decode_numeric(sections[s0], np.dtype(dtype), n)
    if codec == frame.FOR_BITPACK:
        sec = sections[s0]
        if len(sec) < 8:
            raise ValueError("truncated FOR section")
        vmin = int.from_bytes(sec[:8], "little", signed=True)
        u = bitpack.unpack(sec[8:], n, meta.bit_width)
        return (u.astype(np.int64) + vmin).astype(dtype)
    if codec == frame.RLE:
        u = rle.decode(sections[s0], meta.bit_width, n)
        if itemsize == 4:
            return u.astype(np.uint32).view(np.int32)
        return u.view(np.int64).copy()
    if codec == frame.DELTA_BP:
        return delta.decode(sections[s0], itemsize).astype(dtype, copy=False)
    if codec == frame.BSS:
        return bss.decode(sections[s0], np.dtype(dtype), n)
    if codec == frame.RANS:
        # decode straight into the column's dtype (the C kernel writes
        # int32 directly for int32 columns — no int64 intermediate)
        out = rans.decode_ints(sections[s0], dtype)
        if len(out) != n:
            raise ValueError("rANS count mismatch")
        return out
    if codec in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
        sec = sections[s0]
        card = int.from_bytes(sec[:4], "little")
        uniques = plainc.decode_numeric(sec[4:], np.dtype(dtype), card)
        if codec == frame.DICT_RANS:
            codes = rans.decode_ints(sections[s0 + 1])
            if len(codes) != n or (n and (codes.min() < 0 or codes.max() >= card)):
                raise ValueError("dict_rans codes out of range")
        else:
            codes = (
                dictionary.decode_codes_bss(sections[s0 + 1], n, card)
                if codec == frame.DICT_BSS
                else dictionary.decode_indices(sections[s0 + 1], n, card)
            )
        return uniques[codes.astype(np.int64)]
    raise ValueError(f"codec {codec} invalid for integer column")


def _encode_str_sections(
    data, offsets: np.ndarray, codec: int
) -> tuple[list[bytes], int]:
    if codec == frame.PLAIN_BA:
        return [plainc.encode_byte_array(data, offsets)], 0
    if codec == frame.DELTA_LENGTH_BA:
        return [deltaba.encode_delta_length(data, offsets)], 0
    if codec == frame.DELTA_BA:
        return [deltaba.encode_delta_ba(data, offsets)], 0
    if codec == frame.FSST:
        merges, symbols = fsst.train(data, offsets)
        return [fsst.encode(data, offsets, merges, symbols)], 0
    if codec in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
        built = dictionary.build_bytes(data, offsets)
        if built is None:
            return [deltaba.encode_delta_length(data, offsets)], frame.DELTA_LENGTH_BA
        uniq, codes = built
        sect0 = len(uniq).to_bytes(4, "little") + dictionary.encode_dict_values_bytes(
            uniq
        )
        if codec == frame.DICT_RANS:
            idx = rans.encode_ints(codes)
        elif codec == frame.DICT_BSS:
            idx = dictionary.encode_codes_bss(codes, len(uniq))
        else:
            idx = dictionary.encode_indices(codes, len(uniq))
        return [sect0, idx], 0
    raise ValueError(f"codec {codec} invalid for byte-array column")


def _decode_str_sections(meta: frame.FrameMeta, n: int, s0: int):
    codec = meta.codec
    sections = meta.sections
    if codec == frame.PLAIN_BA:
        return plainc.decode_byte_array(sections[s0], n)
    if codec == frame.DELTA_LENGTH_BA:
        return deltaba.decode_delta_length(sections[s0])
    if codec == frame.DELTA_BA:
        return deltaba.decode_delta_ba(sections[s0])
    if codec == frame.FSST:
        return fsst.decode(sections[s0])
    if codec in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
        sec = sections[s0]
        card = int.from_bytes(sec[:4], "little")
        ddata, doff = plainc.decode_byte_array(sec[4:], card)
        if codec == frame.DICT_RANS:
            codes = rans.decode_ints(sections[s0 + 1])
            if len(codes) != n or (n and (codes.min() < 0 or codes.max() >= card)):
                raise ValueError("dict_rans codes out of range")
        else:
            codes = (
                dictionary.decode_codes_bss(sections[s0 + 1], n, card)
                if codec == frame.DICT_BSS
                else dictionary.decode_indices(sections[s0 + 1], n, card)
            )
        codes = codes.astype(np.int64)
        dnp = np.frombuffer(ddata, dtype=np.uint8)
        dlens = np.diff(doff)
        out_lens = dlens[codes]
        out_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(out_lens, out=out_off[1:])
        total = int(out_off[-1])
        if total:
            src = (
                np.arange(total, dtype=np.int64)
                - np.repeat(out_off[:-1], out_lens)
                + np.repeat(doff[:-1][codes], out_lens)
            )
            return dnp[src].tobytes(), out_off
        return b"", out_off
    raise ValueError(f"codec {codec} invalid for byte-array column")


def _encode_int_chunk(
    vals: np.ndarray, itemsize: int, codec: str | int, trial_comp: str | None,
    hint: int | None = None,
) -> tuple[int, list[bytes], int]:
    """Full int-chunk encode: auto selection (stage-1 estimates + scaled
    sample trials), span-overflow fallbacks, dict-budget fallback, and the
    never-worse-than-PLAIN re-check. Shared by the int, date/timestamp,
    and unscaled-DECIMAL paths. Returns (cid, sections, bit_width).

    ``hint`` short-circuits the selection stage with a previously-picked
    codec id (the per-task pick cache): the overflow fallbacks and the
    PLAIN re-check below stay active, so a stale hint degrades to a safe
    codec instead of failing or bloating the chunk."""
    if codec == "auto" and hint is not None:
        cid = hint
    elif codec == "auto":
        st_int = cost.int_stats(vals)
        est = cost.estimate_int_sizes(st_int, itemsize)
        ranked = sorted(est, key=est.get)
        trials = ranked[: cost.TRIAL_CANDIDATES]
        # plane-split codecs only ever win via the block compressor —
        # force them into the trial set when compression is on
        if trial_comp:
            if frame.BSS not in trials:
                trials.append(frame.BSS)
            if frame.DICT_BSS in est and frame.DICT_BSS not in trials:
                trials.append(frame.DICT_BSS)
        sample = cost.contiguous_sample(vals)
        scale_n = len(vals) / max(len(sample), 1)

        def _parts(c):
            body, _bw = _encode_int_sections(sample, itemsize, c)
            if (
                c in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS)
                and len(body) == 2
            ):
                sect0, idx = body
                sample_card = max(int.from_bytes(sect0[:4], "little"), 1)
                card_scale = max(st_int.distinct_est / sample_card, 1.0)
                if c == frame.DICT_RANS:
                    fixed, var = rans.split_fixed(idx)
                    return [
                        (sect0, card_scale),
                        (fixed, card_scale),
                        (var, scale_n),
                    ]
                return [(sect0, card_scale), (idx, scale_n)]
            if c == frame.RANS:
                fixed, var = rans.split_fixed(body[0])
                return [(fixed, 1.0), (var, scale_n)]
            return [(b"".join(body), scale_n)]

        cid = cost.trial_pick_scaled(
            {c: (lambda c=c: _parts(c)) for c in trials}, trials, trial_comp
        )
    else:
        cid = frame.CODEC_IDS[codec] if isinstance(codec, str) else codec
    try:
        body, bit_width = _encode_int_sections(vals, itemsize, cid)
    except ValueError:
        if cid == frame.DICT_RANS:
            # sample-picked, but the full chunk's dictionary outgrew the
            # rANS span gate — plane-split codes are the closest family
            cid = frame.DICT_BSS
        elif cid == frame.RANS and codec == "auto":
            # defense in depth behind the cost-model applicability gate:
            # if auto selection ever lands on rANS for a chunk whose
            # full span exceeds the coder's table, degrade to FOR
            cid = frame.FOR_BITPACK
        else:
            raise
        body, bit_width = _encode_int_sections(vals, itemsize, cid)
    if (
        cid in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS)
        and len(body) == 1
    ):
        cid = frame.PLAIN  # dict budget fallback happened (dictpage.go:161-195)
    if codec == "auto":
        plain_len = len(vals) * itemsize
        if sum(len(s) for s in body) > plain_len:
            body, bit_width = [plainc.encode_numeric(vals)], 0
            cid = frame.PLAIN
    return cid, body, bit_width


def _encode_fixed_bytes(
    data: bytes, n: int, k: int, codec: str | int, trial_comp: str | None,
    hint: int | None = None,
) -> tuple[int, list[bytes]]:
    """Encode n fixed-length k-byte items (FLBA payloads and 16-byte
    decimal limbs) by reusing the byte-array kernels with synthetic
    uniform offsets — every string codec (plain/dict/delta/fsst) applies
    unchanged; the frame's logical type says how to reassemble
    (reference: FLBA plain path encodingwrite_plain.go:148-159)."""
    offsets = np.arange(n + 1, dtype=np.int64) * k
    if codec == "auto" and hint is not None:
        cid = hint
    elif codec == "auto":
        cid = cost.rank_string_codecs(data, offsets, trial_comp)
    else:
        cid = frame.CODEC_IDS[codec] if isinstance(codec, str) else codec
        if cid == frame.PLAIN:
            cid = frame.PLAIN_BA
    try:
        body, fallback = _encode_str_sections(data, offsets, cid)
    except Exception:
        if hint is None:
            raise
        cid = cost.rank_string_codecs(data, offsets, trial_comp)
        body, fallback = _encode_str_sections(data, offsets, cid)
    if fallback:
        cid = fallback
    if codec == "auto":
        raw = n * k + 4 * n
        if sum(len(s) for s in body) > raw:
            body = [plainc.encode_byte_array(data, offsets)]
            cid = frame.PLAIN_BA
    return cid, body


def _fixed_bytes_of(dense: pa.Array, k: int) -> bytes:
    buf = dense.buffers()[1]
    if len(dense) == 0 or buf is None:
        return b""
    start = dense.offset * k
    return bytes(memoryview(buf)[start : start + len(dense) * k])


_DEC_PARAMS = 3  # param section: precision u8, scale u8, phys_width u8


def _decimal_phys(precision: int) -> int:
    """Physical width for an unscaled decimal — the reference stores
    DECIMAL as INT32 / INT64 / FLBA by precision (types/decimal.go:12-127,
    mirroring the Parquet spec)."""
    if precision <= 9:
        return 4
    if precision <= 18:
        return 8
    return 16


def _decimal_unscaled(dense: pa.Array, phys: int) -> np.ndarray:
    """Unscaled int32/int64 values of a decimal128 array (precision<=18:
    the 128-bit little-endian limbs are a sign-extended 64-bit value)."""
    if len(dense) == 0:
        return np.zeros(0, dtype=np.int32 if phys == 4 else np.int64)
    # slice by BYTES before reinterpreting: a cast/flatten child can carry
    # a stray buffer whose total size is not a multiple of 16 even though
    # the [offset, offset+len) window itself is well-formed
    buf = dense.buffers()[1]
    raw = np.frombuffer(
        buf, dtype=np.uint8, count=len(dense) * 16, offset=dense.offset * 16
    ).view("<i8")
    lo = raw[0::2]
    hi = raw[1::2]
    if not np.array_equal(hi, lo >> 63):
        raise ValueError("decimal value exceeds declared physical width")
    return lo.astype(np.int32) if phys == 4 else lo.copy()


def _decimal_rebuild(
    vals: np.ndarray, valid: np.ndarray | None, typ: pa.DataType
) -> pa.Array:
    """int unscaled -> decimal128 array (16-byte LE limbs, sign-extended)."""
    v = vals.astype(np.int64, copy=False)
    n_total = len(valid) if valid is not None else len(v)
    limbs = np.zeros((n_total, 2), dtype=np.int64)
    if valid is None:
        limbs[:, 0] = v
        limbs[:, 1] = v >> 63
        vbuf = None
    else:
        limbs[valid, 0] = v
        limbs[valid, 1] = v >> 63
        vbuf = pa.py_buffer(frame.pack_validity(valid))
    return pa.Array.from_buffers(
        typ, n_total, [vbuf, pa.py_buffer(limbs.tobytes())],
        null_count=0 if valid is None else int((~valid).sum()),
    )


def _encode_alp(
    vals: np.ndarray,
    trial_comp: str | None,
    params: tuple[int, int] | None = None,
) -> list[bytes]:
    """ALP chunk body: [header+exceptions, *inner int sections].

    The scaled integers go through the full int codec menu with its own
    sampled auto-selection (prices usually land on FOR/bit-pack or rANS),
    so ALP composes with every integer codec instead of pinning one."""
    if params is None:
        params = alp.choose_params(cost.contiguous_sample(vals))
        if params is None:
            # forced on unsuitable data: e=0 still roundtrips (integral
            # values survive, everything else rides the exception list)
            params = (0, 0)
    e, f = params
    stored, exc_pos, exc_vals = alp.split(vals, e, f)
    inner_cid, inner_body, inner_bw = _encode_int_chunk(
        stored, 8, "auto", trial_comp, None
    )
    sect0 = alp.pack_header(e, f, inner_cid, inner_bw, exc_pos, exc_vals)
    return [sect0] + inner_body


PICK_REFRESH_EVERY = 64  # cached picks re-run full selection every N uses


def encode_chunk(
    col: Any,
    codec: str | int = "auto",
    compression: str | None = "zstd",
    trial_compression: str | None = None,
    encryption_key: bytes | None = None,
    pick_cache: dict[str, list] | None = None,
    path: str = "",
) -> tuple[bytes, dict]:
    """Encode one column chunk -> (frame bytes, manifest stats dict).

    ``trial_compression`` makes codec *selection* compression-aware even
    when this frame itself stays uncompressed — used for list sub-frames,
    which are block-compressed once by the enclosing frame: the winning
    codec must be the one that is smallest AFTER that outer compression,
    not before (bit-packing can beat PLAIN raw yet lose under zstd and
    vice versa).

    ``pick_cache`` amortizes auto-selection across the chunks one task
    encodes (many partitions / Arrow batches of the same columns): the
    first chunk at each ``path`` runs the full sampled selection, later
    chunks reuse the winning codec id. Safety is preserved — the overflow
    fallbacks and never-worse-than-PLAIN re-check still run per chunk, the
    cache stores the codec the chunk *actually* got (self-healing on
    drift), and every PICK_REFRESH_EVERY uses the full selection re-runs
    so a pick can never go permanently stale. Keys are column paths:
    ``name``, ``name#val`` / ``name#len`` for list parts, ``name.child``
    for struct children."""
    arr = _as_array(col)
    if pa.types.is_dictionary(arr.type):
        # Arrow dictionary array (the ENUM annotation's natural carrier,
        # ref common/functable.go:33 stringFuncTable): encode the logical
        # values — the cost model re-derives dict encoding if it wins
        arr = arr.dictionary_decode()
    trial_comp = compression if compression else trial_compression
    hint: int | None = None
    if codec == "auto" and pick_cache is not None:
        ent = pick_cache.get(path)
        if ent is not None:
            ent[1] += 1
            if ent[1] % PICK_REFRESH_EVERY:
                hint = ent[0]
    ltype = _logical_type(arr.type)
    n = len(arr)
    null_count = arr.null_count
    flags = 0
    sections: list[bytes] = []
    valid = None
    if null_count:
        flags |= frame.FLAG_HAS_VALIDITY
        valid = np.asarray(arr.is_valid())
        dense = arr.drop_null()
    else:
        dense = arr
    raw_size = sum(b.size for b in arr.buffers() if b is not None)
    stats: dict = {"count": n, "null_count": null_count, "raw_size": raw_size}
    bit_width = 0
    param_sect: bytes | None = None

    if ltype in _INT_TYPES:
        dtype, itemsize = _INT_TYPES[ltype]
        if ltype == frame.LT_TIMESTAMP_US:
            dense_i = dense.cast(pa.timestamp("us")).cast(pa.int64())
        elif ltype == frame.LT_DATE32:
            dense_i = dense.cast(pa.int32())
        else:
            dense_i = dense
        vals = np.asarray(dense_i).astype(dtype, copy=False)
        cid, body, bit_width = _encode_int_chunk(
            vals, itemsize, codec, trial_comp, hint
        )
        if len(vals):
            stats["min"], stats["max"] = _int_minmax(vals)
        sections = body
    elif ltype == frame.LT_INT_EXT:
        # extended integer physical types: the reference's INT_8/16 and
        # UINT_8..64 converted types (common/functable.go:38-41). Narrow
        # signed ints widen losslessly to the int32 menu, unsigned <= 32
        # bits to the int64 menu; uint64 is bit-viewed through the int64
        # menu (every int kernel is modular two's-complement, so the
        # roundtrip is exact even when the signed view wraps) while the
        # manifest stats come from the UNSIGNED view so pruning bounds
        # order correctly — the uint64FuncTable analog.
        sgn, width = _EXT_INT_PARAMS[str(arr.type)]
        u = np.asarray(dense)
        if sgn:
            vals = u.astype(np.int32)
            cid, body, bit_width = _encode_int_chunk(
                vals, 4, codec, trial_comp, hint
            )
        elif width == 8:
            vals = u.view(np.int64)
            cid, body, bit_width = _encode_int_chunk(
                vals, 8, codec, trial_comp, hint
            )
        else:
            vals = u.astype(np.int64)
            cid, body, bit_width = _encode_int_chunk(
                vals, 8, codec, trial_comp, hint
            )
        if len(u):
            stats["min"], stats["max"] = int(u.min()), int(u.max())
        sections = body
        param_sect = bytes([sgn, width])
    elif ltype == frame.LT_TEMPORAL:
        # timestamps at any unit/tz, time-of-day, durations (reference
        # types/timestamp.go:10-57, types/time.go:10-93). The raw int64
        # (int32 for time32) payload rides the full int codec menu; the
        # param section carries (kind, unit) + tz so decode reconstructs
        # the exact arrow type — no unit cast, no precision loss.
        t = arr.type
        if pa.types.is_timestamp(t):
            kind, unit, tz = 0, t.unit, t.tz or ""
        elif pa.types.is_time32(t):
            kind, unit, tz = 1, t.unit, ""
        elif pa.types.is_time64(t):
            kind, unit, tz = 2, t.unit, ""
        else:
            kind, unit, tz = 3, t.unit, ""
        if kind == 1:
            vals = np.asarray(dense.view(pa.int32()))
            cid, body, bit_width = _encode_int_chunk(
                vals, 4, codec, trial_comp, hint
            )
        else:
            vals = np.asarray(dense.view(pa.int64()))
            cid, body, bit_width = _encode_int_chunk(
                vals, 8, codec, trial_comp, hint
            )
        if len(vals):
            stats["min"], stats["max"] = _int_minmax(vals)
        sections = body
        param_sect = bytes([kind, _UNIT_CODES[unit]]) + tz.encode("utf-8")
    elif ltype in _FLOAT_TYPES:
        dtype = _FLOAT_TYPES[ltype]
        vals = np.asarray(dense).astype(dtype, copy=False)
        if codec == "auto" and hint is not None:
            cid = hint
        elif codec == "auto":
            ranked = cost.rank_float_codecs(vals)
            sample = np.ascontiguousarray(cost.contiguous_sample(vals))
            iview = np.int32 if dtype == np.float32 else np.int64
            alp_params = alp.choose_params(sample)
            if alp_params is not None:
                ranked.insert(0, frame.ALP)

            def _enc_float(c):
                if c == frame.BSS:
                    return bss.encode(sample)
                if c in (frame.DICT, frame.DICT_RANS):
                    return b"".join(
                        _encode_int_sections(
                            sample.view(iview), np.dtype(dtype).itemsize, c
                        )[0]
                    )
                if c == frame.ALP:
                    # FOR is the cheap trial proxy for the inner ints; the
                    # real encode runs the full inner auto-selection
                    st, ep, ev = alp.split(sample, *alp_params)
                    inner = _encode_int_sections(st, 8, frame.FOR_BITPACK)[0]
                    return alp.pack_header(
                        alp_params[0], alp_params[1], frame.FOR_BITPACK, 0,
                        ep, ev,
                    ) + b"".join(inner)
                return plainc.encode_numeric(sample)

            encoders = {c: (lambda c=c: _enc_float(c)) for c in ranked}
            # trial every float candidate (at most 4): slicing to the
            # default window dropped PLAIN whenever the dict family was
            # inserted ahead of it, so PLAIN was never trial-compressed
            # for low-cardinality float columns
            cid = cost.trial_pick(encoders, ranked, trial_comp,
                                  max_trials=len(ranked))
        else:
            cid = frame.CODEC_IDS[codec] if isinstance(codec, str) else codec
        if cid in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
            ivals = vals.view(np.int32 if dtype == np.float32 else np.int64)
            try:
                body, bit_width = _encode_int_sections(
                    ivals, np.dtype(dtype).itemsize, cid
                )
            except ValueError:
                if cid != frame.DICT_RANS:
                    raise
                cid = frame.DICT_BSS  # code span outgrew the rANS gate
                body, bit_width = _encode_int_sections(
                    ivals, np.dtype(dtype).itemsize, cid
                )
            if len(body) == 1:
                cid = frame.PLAIN
                body = [plainc.encode_numeric(vals)]
        elif cid == frame.ALP:
            vals = np.ascontiguousarray(vals)
            body = _encode_alp(
                vals, trial_comp,
                alp_params if codec == "auto" and hint is None else None,
            )
            if codec == "auto" and sum(len(s) for s in body) > vals.nbytes:
                cid = frame.PLAIN
                body = [plainc.encode_numeric(vals)]
        elif cid == frame.BSS:
            body = [bss.encode(vals)]
        else:
            cid = frame.PLAIN
            body = [plainc.encode_numeric(vals)]
        if len(vals):
            # Total-order stats, matching how Spark and DuckDB actually
            # compare floats (NaN greater than everything, ±inf ordinary
            # values): ±inf stays in the bounds, any NaN pins the max at
            # NaN, an all-NaN chunk pins both. Excluding inf (the old
            # behavior) let a range filter prune a chunk whose only
            # matching row was infinite; excluding NaN alone would do the
            # same for NaN under Spark's NaN-greatest comparisons. The
            # reference drops only NaN (writer/pages.go:237-246) because
            # Parquet leaves NaN ordering undefined; our manifest defines
            # total order instead so pruning stays lossless.
            nan = np.isnan(vals)
            nonnan = vals[~nan]
            if len(nonnan):
                stats["min"] = nonnan.min().item()
                stats["max"] = (
                    float("nan") if nan.any() else nonnan.max().item()
                )
            else:
                stats["min"] = stats["max"] = float("nan")
        sections = body
    elif ltype == frame.LT_BOOL:
        vals = np.asarray(dense).astype(bool)
        runs = (
            1 + int(np.count_nonzero(np.diff(vals.view(np.int8)) != 0))
            if len(vals) > 1
            else len(vals)
        )
        if codec == "auto":
            cid = hint if hint is not None else (
                frame.RLE if runs < len(vals) / 16 else frame.PLAIN
            )
        else:
            cid = frame.CODEC_IDS[codec] if isinstance(codec, str) else codec
        if cid == frame.RLE:
            sections = [rle.encode(vals.astype(np.uint64), 1)]
            bit_width = 1
        else:
            cid = frame.PLAIN
            sections = [plainc.encode_bool(vals)]
    elif ltype in (frame.LT_STRING, frame.LT_BINARY):
        data, offsets = _str_parts(dense)
        if codec == "auto":
            cid = (
                hint
                if hint is not None
                else cost.rank_string_codecs(data, offsets, trial_comp)
            )
        else:
            cid = frame.CODEC_IDS[codec] if isinstance(codec, str) else codec
        try:
            body, fallback = _encode_str_sections(data, offsets, cid)
        except Exception:
            if hint is None:
                raise
            # stale cached pick (e.g. FSST training rejects this chunk):
            # fall back to a fresh selection for this chunk
            cid = cost.rank_string_codecs(data, offsets, trial_comp)
            body, fallback = _encode_str_sections(data, offsets, cid)
        if fallback:
            cid = fallback
        if codec == "auto":
            raw_ba = int(offsets[-1] - offsets[0]) + 4 * (len(offsets) - 1)
            if sum(len(s) for s in body) > raw_ba:
                body = [plainc.encode_byte_array(data, offsets)]
                cid = frame.PLAIN_BA
        sections = body
        stats["byte_size"] = int(offsets[-1] - offsets[0])
        if len(dense):
            import pyarrow.compute as pc

            mm = pc.min_max(dense)
            stats["min"] = mm["min"].as_py()
            stats["max"] = mm["max"].as_py()
    elif ltype == frame.LT_FLBA:
        # fixed-length byte arrays (UUID, FLOAT16, raw digests — reference
        # encodingwrite_plain.go:148-159): reuse every byte-array codec
        # via synthetic uniform offsets; the param section carries the
        # item length so frames stay self-describing
        k = arr.type.byte_width
        if k > 0xFFFF:
            raise NotImplementedError("FLBA width > 65535")
        data = _fixed_bytes_of(dense, k)
        cid, body = _encode_fixed_bytes(
            data, len(dense), k, codec, trial_comp, hint
        )
        sections = body
        param_sect = int(k).to_bytes(2, "little")
        stats["byte_size"] = len(data)
    elif ltype == frame.LT_FLOAT16:
        # FLOAT16 (reference types/float16.go:18-70): 2-byte items through
        # the fixed-width byte-array menu; dict wins on low-cardinality
        # halves, plain+zstd otherwise
        data = _fixed_bytes_of(dense, 2)
        cid, body = _encode_fixed_bytes(
            data, len(dense), 2, codec, trial_comp, hint
        )
        sections = body
    elif ltype == frame.LT_DECIMAL:
        # DECIMAL stored by precision as unscaled INT32 / INT64 / FLBA16
        # (reference types/decimal.go:12-127, per the Parquet spec); the
        # int paths get the full codec menu including auto selection
        t = arr.type
        prec, scale = t.precision, t.scale
        if not (0 <= scale <= prec):
            raise NotImplementedError(f"unsupported decimal scale {scale}")
        phys = _decimal_phys(prec)
        if phys <= 8:
            vals = _decimal_unscaled(dense, phys)
            cid, body, bit_width = _encode_int_chunk(
                vals, phys, codec, trial_comp, hint
            )
            if len(vals):
                lo, hi = _int_minmax(vals)
                stats["min"] = lo / 10**scale
                stats["max"] = hi / 10**scale
        else:
            data = _fixed_bytes_of(dense, 16)
            cid, body = _encode_fixed_bytes(
                data, len(dense), 16, codec, trial_comp, hint
            )
        sections = body
        param_sect = bytes([prec, scale, phys])
    elif ltype == frame.LT_STRUCT:
        # struct shredding (reference marshal/marshal.go:376-414 semantics):
        # one sub-frame per child column; the parent's null bitmap is this
        # level's definition information, children carry their own. Child
        # frames stay uncompressed — the enclosing frame block-compresses
        # the concatenation once.
        st_arr = dense
        names, child_frames = [], []
        for i, f in enumerate(arr.type):
            names.append(f.name)
            cf, cst = encode_chunk(
                st_arr.field(i), codec="auto", compression=None,
                trial_compression=trial_comp,
                pick_cache=pick_cache, path=f"{path}.{f.name}",
            )
            child_frames.append(cf)
            stats.setdefault("child_codecs", {})[f.name] = cst["codec"]
        sections = child_frames
        cid = frame.LIST  # container codec id; layout driven by ltype
        param_sect = "\x00".join(names).encode("utf-8")
    elif ltype == frame.LT_MAP:
        # map = repeated (key, value) group (marshal.go's MAP shredding):
        # lengths sub-frame + entries struct sub-frame; the struct path
        # recursively shreds keys and values into their own codecs
        # view the map as list<struct<key,value>> (its physical layout) so
        # the slice-aware list kernels (flatten/value_lengths) apply
        m = dense.cast(
            pa.list_(
                pa.struct(
                    [("key", arr.type.key_type), ("value", arr.type.item_type)]
                )
            )
        )
        lengths = np.asarray(m.value_lengths(), dtype=np.int32)
        entries = m.flatten()
        len_frame, len_stats = encode_chunk(
            pa.array(lengths, type=pa.int32()), codec="auto", compression=None,
            trial_compression=trial_comp,
            pick_cache=pick_cache, path=f"{path}#len",
        )
        ent_frame, ent_stats = encode_chunk(
            entries, codec="auto", compression=None, trial_compression=trial_comp,
            pick_cache=pick_cache, path=f"{path}#ent",
        )
        sections = [len_frame, ent_frame]
        cid = frame.LIST
        stats["values_count"] = len(entries)
        stats["child_codecs"] = ent_stats.get("child_codecs")
    elif ltype == frame.LT_LIST_INT32:
        lists = dense
        lengths = np.asarray(lists.value_lengths(), dtype=np.int32)
        values = lists.flatten()
        len_frame, len_stats = encode_chunk(
            pa.array(lengths, type=pa.int32()), codec="auto", compression=None,
            trial_compression=trial_comp,
            pick_cache=pick_cache, path=f"{path}#len",
        )
        val_frame, val_stats = encode_chunk(
            values, codec="auto", compression=None, trial_compression=trial_comp,
            pick_cache=pick_cache, path=f"{path}#val",
        )
        sections = [len_frame, val_frame]
        cid = frame.LIST
        stats["values_count"] = len(values)
        stats["values_codec"] = val_stats["codec"]
        stats["lengths_codec"] = len_stats["codec"]
        if val_stats.get("min") is not None:
            stats["min"], stats["max"] = val_stats.get("min"), val_stats.get("max")
    else:  # pragma: no cover
        raise NotImplementedError(str(arr.type))

    if (
        codec == "auto"
        and pick_cache is not None
        and ltype not in (frame.LT_STRUCT, frame.LT_MAP, frame.LT_LIST_INT32)
    ):
        # store what the chunk ACTUALLY got (post-fallback), so a pick
        # that degraded (span overflow, dict budget, lost to PLAIN)
        # self-heals instead of re-failing every chunk
        ent = pick_cache.get(path)
        if ent is None:
            pick_cache[path] = [cid, 1]
        else:
            ent[0] = cid
    if valid is not None:
        sections = [frame.pack_validity(valid)] + sections
    if param_sect is not None:
        sections = [param_sect] + sections  # params precede validity
    blob = frame.write_frame(
        cid,
        ltype,
        sections,
        count=n,
        null_count=null_count,
        raw_size=raw_size,
        bit_width=bit_width,
        flags=flags,
        compression=compression,
        encryption_key=encryption_key,
    )
    stats["codec"] = frame.CODEC_NAMES[cid]
    stats["encoded_size"] = len(blob)
    return blob, stats


# ------------------------------------------------------------ paged chunks


def encode_chunk_paged(
    col: Any,
    codec: str | int = "auto",
    compression: str | None = "zstd",
    page_rows: int | None = None,
    encryption_key: bytes | None = None,
    pick_cache: dict[str, list] | None = None,
    path: str = "",
) -> tuple[bytes, dict]:
    """Encode a chunk as multiple page frames of ``page_rows`` values each
    (the reference's page split, writer/pages.go:252-317). Page boundaries
    are fixed row offsets, so every column of a partition pages at the
    same rows and a page subset is row-aligned across columns.

    stats['pages'] carries the ColumnIndex analog: per-page first_row,
    count, and min/max. Codec auto-selection runs on the first page and
    is reused for the rest (per-page re-pick would also fragment the
    store's codec labels); a page the codec rejects falls back to auto.
    """
    arr = _as_array(col)
    n = len(arr)
    if not page_rows or n <= page_rows:
        blob, st = encode_chunk(arr, codec=codec, compression=compression,
                                encryption_key=encryption_key,
                                pick_cache=pick_cache, path=path)
        st["pages"] = [
            {"first_row": 0, "count": n,
             "vmin": st.get("min"), "vmax": st.get("max")}
        ]
        return blob, st
    from .prune import order_key

    frames: list[bytes] = []
    pages: list[dict] = []
    chosen: str | int = codec
    agg: dict = {"count": n, "null_count": 0, "raw_size": 0}
    for start in range(0, n, page_rows):
        sl = arr.slice(start, min(page_rows, n - start))
        try:
            fb, fst = encode_chunk(sl, codec=chosen, compression=compression,
                                   encryption_key=encryption_key,
                                   pick_cache=pick_cache, path=path)
        except ValueError:
            fb, fst = encode_chunk(sl, codec="auto", compression=compression,
                                   encryption_key=encryption_key,
                                   pick_cache=pick_cache, path=path)
        if chosen == "auto" and fst["codec"] in frame.CODEC_IDS:
            chosen = fst["codec"]
        frames.append(fb)
        pages.append(
            {"first_row": start, "count": len(sl),
             "vmin": fst.get("min"), "vmax": fst.get("max")}
        )
        agg["null_count"] += fst["null_count"]
        agg["raw_size"] += fst["raw_size"]
        # fold page stats under the engine TOTAL order (NaN greatest),
        # not plain min/max: max(16.0, nan) == 16.0 in Python, which
        # would un-pin NaN from a paged chunk's vmax and let a pushed
        # v > K filter prune a partition whose NaN rows match (Spark
        # treats NaN as greater than any number)
        for key in ("min", "max"):
            v = fst.get(key)
            if v is None:
                continue
            if key not in agg:
                agg[key] = v
            elif key == "min":
                agg[key] = v if order_key(v) < order_key(agg[key]) \
                    else agg[key]
            else:
                agg[key] = v if order_key(v) > order_key(agg[key]) \
                    else agg[key]
    header = PAGE_MAGIC + struct.pack("<I", len(frames))
    header += struct.pack(f"<{len(frames)}Q", *(len(f) for f in frames))
    blob = header + b"".join(frames)
    if isinstance(chosen, int):
        agg["codec"] = frame.CODEC_NAMES[chosen]
    elif chosen != "auto":
        agg["codec"] = chosen
    else:  # composite children (list/struct) never cache a forceable name
        agg["codec"] = fst["codec"]
    agg["encoded_size"] = len(blob)
    agg["pages"] = pages
    return blob, agg


def split_pages(buf: bytes) -> list[bytes] | None:
    """Page frames of a paged blob, or None for a bare single frame."""
    if len(buf) < 8 or buf[:4] != PAGE_MAGIC:
        return None
    (npages,) = struct.unpack_from("<I", buf, 4)
    if not (1 <= npages <= MAX_PAGES):
        raise ValueError("invalid page count")
    head_end = 8 + 8 * npages
    if len(buf) < head_end:
        raise ValueError("truncated page directory")
    lens = struct.unpack_from(f"<{npages}Q", buf, 8)
    if sum(lens) != len(buf) - head_end:
        raise ValueError("page directory disagrees with blob size")
    out, off = [], head_end
    for ln in lens:
        out.append(buf[off : off + ln])
        off += ln
    return out


def page_counts(buf: bytes) -> list[int] | None:
    """Row count per page from the fixed frame headers only — no
    decompression, the OffsetIndex read path."""
    pages = split_pages(buf)
    if pages is None:
        return None
    counts = []
    for p in pages:
        if len(p) < frame._HDR.size:
            raise ValueError("truncated page frame")
        counts.append(frame._HDR.unpack_from(p)[9])
    return counts


def _concat(arrays: list[pa.Array]) -> pa.Array:
    if len(arrays) == 1:
        return arrays[0]
    return pa.concat_arrays(arrays)


def decode_chunk_pages(buf: bytes, keep: list[int] | None = None,
                       encryption_key: bytes | None = None) -> pa.Array:
    """Decode a (possibly paged) blob; ``keep`` selects page ordinals —
    unneeded pages are never parsed past their directory entry (the
    intra-chunk skip the reference gets from ColumnIndex+OffsetIndex)."""
    pages = split_pages(buf)
    if pages is None:
        return decode_chunk(buf, encryption_key)
    if keep is not None:
        pages = [pages[i] for i in keep]
    return _concat([decode_chunk(p, encryption_key) for p in pages])


def decode_chunk_rows(buf: bytes, start: int, stop: int,
                      encryption_key: bytes | None = None) -> pa.Array:
    """Decode only rows [start, stop): page-granular skip + edge slice
    (SkipRows over the OffsetIndex, columnbuffer_offset_index.go:23-110)."""
    counts = page_counts(buf)
    if counts is None:
        return decode_chunk(buf, encryption_key).slice(start, stop - start)
    pages = split_pages(buf)
    out, first = [], 0
    for p, cnt in zip(pages, counts):
        lo, hi = first, first + cnt
        first += cnt
        if hi <= start or lo >= stop:
            continue
        a = decode_chunk(p, encryption_key)
        s = max(start - lo, 0)
        e = min(stop - lo, cnt)
        out.append(a.slice(s, e - s))
    if not out:
        empty = decode_chunk(pages[0], encryption_key).slice(0, 0)
        return empty
    return _concat(out)


def decode_chunk_partial(
    buf: bytes,
    path: str | list[str],
    encryption_key: bytes | None = None,
) -> pa.Array:
    """Decode only the named subtree of a nested chunk — the reference's
    partial read (``ReadPartial`` path-prefix filtering,
    reader/reader.go:347-410): sibling sub-frames are never handed to a
    decode kernel, so projecting one field of a wide struct skips the
    expensive part (rANS/FSST/dict decode) of every other field.

    ``path`` names struct fields (dotted string or list). List layers are
    transparent — projecting ``"f"`` through ``list<struct<f,g>>`` returns
    ``list<f>`` with the parent's offsets; for maps, ``"key"``/``"value"``
    address the entry columns. A null parent yields a null child row."""
    if isinstance(path, str):
        path = [p for p in path.split(".") if p]
    path = list(path)
    if not path:
        return decode_chunk(buf, encryption_key)
    pages = split_pages(buf)
    if pages is not None:
        return _concat(
            [_decode_partial_inner(p, path, encryption_key) for p in pages]
        )
    return _decode_partial_inner(buf, path, encryption_key)


def _decode_partial_inner(
    buf: bytes, path: list[str], encryption_key: bytes | None = None
) -> pa.Array:
    meta = frame.read_frame(buf, encryption_key)
    n, lt = meta.count, meta.logical_type
    s0 = 0
    params = None
    if lt in _PARAM_LTS:
        params = meta.sections[0]
        s0 = 1
    valid = None
    if meta.flags & frame.FLAG_HAS_VALIDITY:
        valid = frame.unpack_validity(meta.sections[s0], n)
        s0 += 1
    dense_n = n - meta.null_count

    if lt == frame.LT_STRUCT:
        names = bytes(params).decode("utf-8").split("\x00") if params else []
        name = path[0]
        if name not in names:
            raise KeyError(f"no struct field {name!r} (have {names})")
        sub = meta.sections[s0 + names.index(name)]
        child = (
            _decode_partial_inner(sub, path[1:])
            if len(path) > 1
            else decode_chunk(sub)
        )
        if len(child) != dense_n:
            raise ValueError("struct child length mismatch")
        if valid is None:
            return child
        if dense_n == 0:
            return pa.nulls(n, child.type)
        # a null index propagates null through take: parent-null rows
        # become null children (the def-level semantics of the full path)
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(dense_n)
        return child.take(pa.array(idx, mask=~valid))
    if lt in (frame.LT_LIST_INT32, frame.LT_MAP):
        # the repeated layer is transparent to the path; rebuild the list
        # shape around the partially-decoded element subtree
        lengths = np.asarray(decode_chunk(meta.sections[s0]), dtype=np.int64)
        values = _decode_partial_inner(meta.sections[s0 + 1], path)
        if valid is None:
            off = np.zeros(dense_n + 1, dtype=np.int64)
            np.cumsum(lengths, out=off[1:])
            return pa.ListArray.from_arrays(off.astype(np.int32), values)
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid] = lengths
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(full_lens, out=off[1:])
        return pa.Array.from_buffers(
            pa.list_(values.type),
            n,
            [pa.py_buffer(frame.pack_validity(valid)),
             pa.py_buffer(off.astype(np.int32).tobytes())],
            children=[values],
        )
    raise ValueError(
        f"cannot project path {'.'.join(path)!r} into logical type {lt}"
    )


# ---------------------------------------------------------------- decoding


def _expand_nulls_numeric(vals: np.ndarray, valid: np.ndarray, pa_type) -> pa.Array:
    full = np.zeros(len(valid), dtype=vals.dtype)
    full[valid] = vals
    return pa.array(full, type=pa_type, mask=~valid)


def _rebuild_strings(
    data: bytes, offsets: np.ndarray, valid: np.ndarray | None, pa_type
) -> pa.Array:
    n = len(valid) if valid is not None else len(offsets) - 1
    if valid is None:
        off32 = offsets
        validity_buf = None
    else:
        lens = np.zeros(n, dtype=np.int64)
        lens[valid] = np.diff(offsets)
        off32 = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off32[1:])
        validity_buf = pa.py_buffer(frame.pack_validity(valid))
    if off32[-1] > (1 << 31) - 1:
        typ = pa.large_utf8() if pa_type == pa.utf8() else pa.large_binary()
        off_buf = pa.py_buffer(off32.astype(np.int64).tobytes())
    else:
        typ = pa_type
        off_buf = pa.py_buffer(off32.astype(np.int32).tobytes())
    return pa.Array.from_buffers(
        typ, n, [validity_buf, off_buf, pa.py_buffer(data)]
    )


def decode_chunk(buf: bytes, encryption_key: bytes | None = None) -> pa.Array:
    """Decode a frame (or a paged multi-frame blob) back to a pyarrow
    Array (bit-identical roundtrip). ``encryption_key`` unseals frames
    written with modular encryption; sub-frames (list/struct children)
    live inside the sealed parent body and need no key of their own."""
    try:
        if buf[:4] == PAGE_MAGIC:
            return decode_chunk_pages(buf, encryption_key=encryption_key)
        return _decode_chunk_inner(buf, encryption_key)
    except IndexError as e:  # defense in depth: malformed section layout
        raise ValueError(f"malformed frame: {e}") from e


def _decode_chunk_inner(buf: bytes, encryption_key: bytes | None = None) -> pa.Array:
    meta = frame.read_frame(buf, encryption_key)
    n = meta.count
    lt = meta.logical_type
    valid = None
    s0 = 0
    params = None
    if lt in _PARAM_LTS:
        params = meta.sections[0]  # param section precedes validity
        s0 = 1
    if meta.flags & frame.FLAG_HAS_VALIDITY:
        valid = frame.unpack_validity(meta.sections[s0], n)
        s0 += 1
    dense_n = n - meta.null_count

    if lt in _INT_TYPES:
        dtype, itemsize = _INT_TYPES[lt]
        vals = _decode_int_sections(meta, dense_n, dtype, itemsize, s0)
        if lt == frame.LT_TIMESTAMP_US:
            pa_type = pa.timestamp("us")
        elif lt == frame.LT_DATE32:
            pa_type = pa.date32()
        else:
            pa_type = pa.int32() if itemsize == 4 else pa.int64()
        if valid is None:
            if lt == frame.LT_TIMESTAMP_US:
                return pa.array(vals.astype("datetime64[us]"))
            if lt == frame.LT_DATE32:
                return pa.array(vals.astype(np.int32), type=pa.int32()).cast(
                    pa.date32()
                )
            return pa.array(vals, type=pa_type)
        if lt == frame.LT_TIMESTAMP_US:
            return _expand_nulls_numeric(vals, valid, pa.int64()).cast(
                pa.timestamp("us")
            )
        if lt == frame.LT_DATE32:
            return _expand_nulls_numeric(vals, valid, pa.int32()).cast(pa.date32())
        return _expand_nulls_numeric(vals, valid, pa_type)
    if lt == frame.LT_INT_EXT:
        if params is None or len(params) != 2:
            raise ValueError("missing int_ext params")
        sgn, width = params[0], params[1]
        npdt = _EXT_INT_NPDT.get((sgn, width))
        if npdt is None:
            raise ValueError(f"invalid int_ext params ({sgn}, {width})")
        npdt = np.dtype(npdt)
        if sgn:
            vals = _decode_int_sections(meta, dense_n, np.int32, 4, s0)
        else:
            vals = _decode_int_sections(meta, dense_n, np.int64, 8, s0)
        if npdt == np.uint64:
            out_np = vals.view(np.uint64)
        else:
            # widened storage: range-check before narrowing so a corrupt
            # body raises instead of silently wrapping
            info = np.iinfo(npdt)
            if len(vals) and (vals.min() < info.min or vals.max() > info.max):
                raise ValueError("int_ext values out of declared range")
            out_np = vals.astype(npdt)
        pa_type = pa.from_numpy_dtype(npdt)
        if valid is None:
            return pa.array(out_np, type=pa_type)
        return _expand_nulls_numeric(out_np, valid, pa_type)
    if lt == frame.LT_TEMPORAL:
        if params is None or len(params) < 2:
            raise ValueError("missing temporal params")
        kind, ucode = params[0], params[1]
        tz = bytes(params[2:]).decode("utf-8") or None
        unit = _UNIT_NAMES.get(ucode)
        if unit is None or kind > 3:
            raise ValueError(f"invalid temporal params ({kind}, {ucode})")
        if kind == 1:
            if ucode > 1:
                raise ValueError("time32 unit must be s or ms")
            vals = _decode_int_sections(meta, dense_n, np.int32, 4, s0)
            base, target = pa.int32(), pa.time32(unit)
        else:
            if kind == 2 and ucode < 2:
                raise ValueError("time64 unit must be us or ns")
            vals = _decode_int_sections(meta, dense_n, np.int64, 8, s0)
            base = pa.int64()
            target = (
                pa.timestamp(unit, tz)
                if kind == 0
                else pa.time64(unit) if kind == 2 else pa.duration(unit)
            )
        if valid is None:
            return pa.array(vals, type=base).view(target)
        return _expand_nulls_numeric(vals, valid, base).view(target)
    if lt in _FLOAT_TYPES:
        dtype = np.dtype(_FLOAT_TYPES[lt])
        if meta.codec in (frame.DICT, frame.DICT_BSS, frame.DICT_RANS):
            ivals = _decode_int_sections(
                meta,
                dense_n,
                np.int32 if dtype == np.float32 else np.int64,
                dtype.itemsize,
                s0,
            )
            vals = ivals.view(dtype)
        elif meta.codec == frame.ALP:
            e, f, inner_cid, inner_bw, exc_pos, exc_vals = alp.parse_header(
                meta.sections[s0], dense_n, dtype
            )
            shim = frame.FrameMeta(
                codec=inner_cid,
                compression=frame.COMP_NONE,
                logical_type=meta.logical_type,
                flags=0,
                bit_width=inner_bw,
                count=dense_n,
                null_count=0,
                raw_size=0,
                sections=meta.sections,
            )
            stored = _decode_int_sections(shim, dense_n, np.int64, 8, s0 + 1)
            vals = alp.merge(stored, e, f, exc_pos, exc_vals, dtype)
        elif meta.codec == frame.BSS:
            vals = bss.decode(meta.sections[s0], dtype, dense_n)
        else:
            vals = plainc.decode_numeric(meta.sections[s0], dtype, dense_n)
        pa_type = pa.float32() if dtype == np.float32 else pa.float64()
        if valid is None:
            return pa.array(vals, type=pa_type)
        return _expand_nulls_numeric(vals, valid, pa_type)
    if lt == frame.LT_BOOL:
        if meta.codec == frame.RLE:
            vals = rle.decode(meta.sections[s0], 1, dense_n).astype(bool)
        else:
            vals = plainc.decode_bool(meta.sections[s0], dense_n)
        if valid is None:
            return pa.array(vals)
        full = np.zeros(n, dtype=bool)
        full[valid] = vals
        return pa.array(full, mask=~valid)
    if lt in (frame.LT_STRING, frame.LT_BINARY):
        data, offsets = _decode_str_sections(meta, dense_n, s0)
        if len(offsets) - 1 != dense_n:
            raise ValueError("string count mismatch")
        base = int(offsets[0])
        if base:
            data = bytes(memoryview(data)[base : int(offsets[-1])])
            offsets = offsets - base
        pa_type = pa.utf8() if lt == frame.LT_STRING else pa.binary()
        return _rebuild_strings(bytes(data), offsets, valid, pa_type)
    if lt == frame.LT_FLBA:
        if params is None or len(params) < 2:
            raise ValueError("missing FLBA params")
        k = int.from_bytes(params[:2], "little")
        data, offsets = _decode_str_sections(meta, dense_n, s0)
        lens = np.diff(offsets)
        if dense_n and (lens != k).any():
            raise ValueError("FLBA item length mismatch")
        base = int(offsets[0])
        dense_bytes = bytes(memoryview(data)[base : base + dense_n * k])
        typ = pa.binary(k)
        if valid is None:
            return pa.Array.from_buffers(
                typ, n, [None, pa.py_buffer(dense_bytes)]
            )
        full = np.zeros(n * k, dtype=np.uint8)
        full.reshape(n, k)[valid] = np.frombuffer(
            dense_bytes, dtype=np.uint8
        ).reshape(dense_n, k)
        return pa.Array.from_buffers(
            typ, n,
            [pa.py_buffer(frame.pack_validity(valid)), pa.py_buffer(full.tobytes())],
            null_count=int((~valid).sum()),
        )
    if lt == frame.LT_FLOAT16:
        data, offsets = _decode_str_sections(meta, dense_n, s0)
        lens = np.diff(offsets)
        if dense_n and (lens != 2).any():
            raise ValueError("float16 item length mismatch")
        base = int(offsets[0])
        dense_np = np.frombuffer(
            memoryview(data)[base : base + dense_n * 2], dtype=np.float16
        )
        if valid is None:
            return pa.array(dense_np, type=pa.float16())
        full = np.zeros(n, dtype=np.float16)
        full[valid] = dense_np
        return pa.array(full, type=pa.float16(), mask=~valid)
    if lt == frame.LT_DECIMAL:
        if params is None or len(params) < 3:
            raise ValueError("missing decimal params")
        prec, scale, phys = params[0], params[1], params[2]
        if not (1 <= prec <= 38 and scale <= prec and phys in (4, 8, 16)):
            raise ValueError("invalid decimal params")
        typ = pa.decimal128(prec, scale)
        if phys <= 8:
            dtype = np.int32 if phys == 4 else np.int64
            vals = _decode_int_sections(meta, dense_n, dtype, phys, s0)
            return _decimal_rebuild(vals, valid, typ)
        data, offsets = _decode_str_sections(meta, dense_n, s0)
        lens = np.diff(offsets)
        if dense_n and (lens != 16).any():
            raise ValueError("decimal limb length mismatch")
        base = int(offsets[0])
        dense_bytes = bytes(memoryview(data)[base : base + dense_n * 16])
        if valid is None:
            return pa.Array.from_buffers(
                typ, n, [None, pa.py_buffer(dense_bytes)]
            )
        full = np.zeros(n * 16, dtype=np.uint8)
        full.reshape(n, 16)[valid] = np.frombuffer(
            dense_bytes, dtype=np.uint8
        ).reshape(dense_n, 16)
        return pa.Array.from_buffers(
            typ, n,
            [pa.py_buffer(frame.pack_validity(valid)), pa.py_buffer(full.tobytes())],
            null_count=int((~valid).sum()),
        )
    if lt == frame.LT_STRUCT:
        if params is None:
            raise ValueError("missing struct params")
        names = bytes(params).decode("utf-8").split("\x00") if params else []
        children = [decode_chunk(s) for s in meta.sections[s0:]]
        if len(children) != len(names):
            raise ValueError("struct child count mismatch")
        for ch in children:
            if len(ch) != dense_n:
                raise ValueError("struct child length mismatch")
        if valid is None:
            return pa.StructArray.from_arrays(children, names)
        # expand dense children back to parent length: null slots take an
        # arbitrary valid row (index 0) and are masked by the parent bitmap
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(dense_n)
        if dense_n:
            full_children = [ch.take(pa.array(idx)) for ch in children]
        else:
            full_children = [pa.nulls(n, ch.type) for ch in children]
        return pa.StructArray.from_arrays(
            full_children, names, mask=pa.array(~valid)
        )
    if lt == frame.LT_MAP:
        lengths = np.asarray(decode_chunk(meta.sections[s0]), dtype=np.int64)
        entries = decode_chunk(meta.sections[s0 + 1])
        keys, items = entries.field(0), entries.field(1)
        if valid is None:
            off = np.zeros(dense_n + 1, dtype=np.int64)
            np.cumsum(lengths, out=off[1:])
            return pa.MapArray.from_arrays(
                pa.array(off.astype(np.int32), pa.int32()), keys, items
            )
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid] = lengths
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(full_lens, out=off[1:])
        # MapArray.from_arrays has no mask parameter: derive the type from
        # a null-free construction, then attach the parent validity bitmap
        # via from_buffers (same shape as the LIST null path)
        typ = pa.MapArray.from_arrays(
            pa.array([0, 0], pa.int32()), keys.slice(0, 0), items.slice(0, 0)
        ).type
        return pa.Array.from_buffers(
            typ, n,
            [pa.py_buffer(frame.pack_validity(valid)),
             pa.py_buffer(off.astype(np.int32).tobytes())],
            children=[entries],
        )
    if lt == frame.LT_LIST_INT32:
        lengths = np.asarray(decode_chunk(meta.sections[s0]), dtype=np.int64)
        values = decode_chunk(meta.sections[s0 + 1])
        if valid is None:
            off = np.zeros(dense_n + 1, dtype=np.int64)
            np.cumsum(lengths, out=off[1:])
            if off[-1] > (1 << 31) - 1:
                return pa.LargeListArray.from_arrays(off, values)
            return pa.ListArray.from_arrays(off.astype(np.int32), values)
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid] = lengths
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(full_lens, out=off[1:])
        off_buf = pa.py_buffer(off.astype(np.int32).tobytes())
        return pa.Array.from_buffers(
            pa.list_(values.type),
            n,
            [pa.py_buffer(frame.pack_validity(valid)), off_buf],
            children=[values],
        )
    raise NotImplementedError(f"logical type {lt}")


def chunk_stats(buf: bytes, encryption_key: bytes | None = None) -> dict:
    meta = frame.read_frame(buf, encryption_key)
    return {
        "codec": meta.codec_name,
        "count": meta.count,
        "null_count": meta.null_count,
        "raw_size": meta.raw_size,
        "encoded_size": len(buf),
        "compression": frame.COMP_NAMES[meta.compression],
    }


def size_stats_of(arr: pa.Array) -> dict:
    """SizeStatistics analog (reference internal/layout/chunk.go:219-265 /
    parquet-format SizeStatistics): definition- and repetition-level
    histograms plus unencoded byte-array data bytes, computed from the
    Arrow array in O(1) numpy passes.

    Level model for our schema shapes (SURVEY.md §1.4):
      * flat column          -> def levels {0: null, 1: present}, rep [n]
      * list<...> (nullable rows, non-null elements) -> def levels
        {0: null row, 1: empty list, 2: element}; rep levels
        {0: one per non-null row, 1: continuation elements}
    ``unencoded_ba_bytes`` is the raw value-byte total for string/binary
    (and list-of-string) columns — the reference's
    unencoded_byte_array_data_bytes; None for non-byte-array types.
    """
    arr = _as_array(arr)
    n = len(arr)
    nulls = arr.null_count
    t = arr.type
    ba_bytes = None
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        dense = arr.drop_null() if nulls else arr
        lens = np.asarray(
            pa.compute.list_value_length(dense).to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        total = int(lens.sum()) if len(lens) else 0
        empty = int((lens == 0).sum()) if len(lens) else 0
        nonempty = len(lens) - empty
        def_hist = [nulls, empty, total]
        rep_hist = [n - nulls, total - nonempty]
        if pa.types.is_string(t.value_type) or pa.types.is_binary(t.value_type):
            flat = dense.flatten()
            ba_bytes = int(
                pa.compute.sum(
                    pa.compute.binary_length(flat)
                ).as_py() or 0
            )
    else:
        def_hist = [nulls, n - nulls]
        rep_hist = [n]
        if (pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
            dense = arr.drop_null() if nulls else arr
            ba_bytes = int(
                pa.compute.sum(
                    pa.compute.binary_length(dense)
                ).as_py() or 0
            )
    out = {"def_hist": def_hist, "rep_hist": rep_hist}
    if ba_bytes is not None:
        out["unencoded_ba_bytes"] = ba_bytes
    return out
