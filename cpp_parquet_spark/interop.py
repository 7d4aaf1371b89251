"""Parquet cross-reader conformance for E1-E5 + the DELTA family / BSS
(SURVEY.md §5.2 item 1).

Everything else in the engine stores pages in its own framing (the pages
table); the codecs themselves, though, implement the *format's* value
grammars — PLAIN fixed-width (parquet.thrift Encodings PLAIN), the
RLE/bit-packed hybrid (arrow rle_encoding.h grammar), dictionary +
RLE-coded indices, and definition levels. This module proves that claim
against the actual format, both directions:

* :func:`write_parquet` — assemble a REAL ``.parquet`` file (v1 data
  pages, uncompressed) whose page payloads come verbatim from OUR
  emitters: ``plain.encode_fixed`` bytes for fixed-width values,
  ``rle.encode`` streams for definition levels and dictionary indices.
  pyarrow's Parquet reader must read back the exact values.
* :func:`read_parquet_with_our_codecs` — open a file pyarrow WROTE
  (v1, dictionary-encoded, uncompressed), walk its footer and page
  headers with the minimal Thrift compact-protocol reader below, and
  decode the page payloads with OUR ``rle.decode`` (definition levels
  and dictionary indices) — cross-reader evidence in the other
  direction.

One deliberate engine-internal deviation is bridged here rather than
hidden: our PLAIN string layout is ``[u32 lengths][concat bytes]``
(split for vectorization; same size) while format PLAIN BYTE_ARRAY is
interleaved ``(u32 len, bytes)*`` — :func:`_interleave` /
:func:`_deinterleave` convert, vectorized (no per-value Python).

The Thrift structures and ids follow the public parquet-format
``parquet.thrift`` and the Thrift compact-protocol spec. Only the
subset these two functions need is implemented.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .codecs import bss, deltafmt, pagecodec, plain, rle
from .codecs.bitpack import bit_width_for

# --- parquet-format enum values (parquet.thrift) ------------------------------
T_BOOLEAN, T_INT32, T_INT64, T_FLOAT, T_DOUBLE, T_BYTE_ARRAY = 0, 1, 2, 4, 5, 6
T_FLBA = 7                                # FIXED_LEN_BYTE_ARRAY
ENC_PLAIN, ENC_PLAIN_DICTIONARY, ENC_RLE, ENC_RLE_DICTIONARY = 0, 2, 3, 8
ENC_DELTA_BINARY_PACKED, ENC_DELTA_LENGTH_BA, ENC_DELTA_BA = 5, 6, 7
ENC_BYTE_STREAM_SPLIT = 9
REP_REQUIRED, REP_OPTIONAL, REP_REPEATED = 0, 1, 2
PAGE_DATA, PAGE_DICTIONARY, PAGE_DATA_V2 = 0, 2, 3
# CompressionCodec (parquet.thrift): page-level block compression
COMP_NONE, COMP_SNAPPY, COMP_GZIP, COMP_ZSTD, COMP_LZ4_RAW = 0, 1, 2, 6, 7
_COMP_NAME = {COMP_SNAPPY: "snappy", COMP_GZIP: "gzip",
              COMP_ZSTD: "zstd", COMP_LZ4_RAW: "lz4_raw"}
_COMP_BY_NAME = {v: k for k, v in _COMP_NAME.items()}
# ConvertedType (parquet.thrift): annotations over the physical types
CONV_UTF8, CONV_DECIMAL, CONV_DATE = 0, 5, 6
CONV_LIST = 3
CONV_MAP = 1
CONV_INT_8, CONV_INT_16 = 15, 16
CONV_TS_MICROS = 10

_MAGIC = b"PAR1"


def _map_file(path: str):
    """Read-only mmap of a .parquet file: slicing materializes only the
    byte ranges actually touched, so a row-group-scoped read (scan
    tasks, pruned reads) faults in its own pages + the footer instead
    of streaming the whole file — the local-FS analogue of object-store
    range GETs. Falls back to a full read for empty files (mmap forbids
    length 0)."""
    import mmap
    f = open(path, "rb")
    try:
        return mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    except ValueError:
        return f.read()

# --- Thrift compact protocol: minimal writer -----------------------------------
# wire types (compact): 1=BOOL_TRUE 2=BOOL_FALSE 3=BYTE 4=I16 5=I32 6=I64
# 7=DOUBLE 8=BINARY 9=LIST 12=STRUCT
_CT_I32, _CT_I64, _CT_BINARY, _CT_LIST, _CT_STRUCT = 5, 6, 8, 9, 12


def _uvarint(x: int) -> bytes:
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(x: int) -> int:
    return (x << 1) ^ (x >> 63)


class _CW:
    """Compact-protocol struct writer: fields must be added in ascending
    id order (the short-form header stores the id DELTA)."""

    def __init__(self) -> None:
        self.b = bytearray()
        self.last = 0

    def _hdr(self, fid: int, ctype: int) -> None:
        delta = fid - self.last
        if 0 < delta <= 15:
            self.b.append((delta << 4) | ctype)
        else:
            self.b.append(ctype)
            self.b += _uvarint(_zigzag(fid))
        self.last = fid

    def i32(self, fid: int, v: int) -> "_CW":
        self._hdr(fid, _CT_I32)
        self.b += _uvarint(_zigzag(v))
        return self

    def bool_(self, fid: int, v: bool) -> "_CW":
        self._hdr(fid, 1 if v else 2)     # compact bool rides the header
        return self

    def i64(self, fid: int, v: int) -> "_CW":
        self._hdr(fid, _CT_I64)
        self.b += _uvarint(_zigzag(v))
        return self

    def binary(self, fid: int, v: bytes) -> "_CW":
        self._hdr(fid, _CT_BINARY)
        self.b += _uvarint(len(v)) + v
        return self

    def list_i32(self, fid: int, vals: list[int]) -> "_CW":
        self._hdr(fid, _CT_LIST)
        self.b += self._list_hdr(len(vals), _CT_I32)
        for v in vals:
            self.b += _uvarint(_zigzag(v))
        return self

    def list_binary(self, fid: int, vals: list[bytes]) -> "_CW":
        self._hdr(fid, _CT_LIST)
        self.b += self._list_hdr(len(vals), _CT_BINARY)
        for v in vals:
            self.b += _uvarint(len(v)) + v
        return self

    def list_i64(self, fid: int, vals: list[int]) -> "_CW":
        self._hdr(fid, _CT_LIST)
        self.b += self._list_hdr(len(vals), _CT_I64)
        for v in vals:
            self.b += _uvarint(_zigzag(v))
        return self

    def list_bool(self, fid: int, vals: list[bool]) -> "_CW":
        # bool LIST elements are one byte each: 1 = true, 2 = false
        self._hdr(fid, _CT_LIST)
        self.b += self._list_hdr(len(vals), 1)
        self.b += bytes(1 if v else 2 for v in vals)
        return self

    def list_struct(self, fid: int, vals: list[bytes]) -> "_CW":
        self._hdr(fid, _CT_LIST)
        self.b += self._list_hdr(len(vals), _CT_STRUCT)
        for v in vals:
            self.b += v
        return self

    def struct(self, fid: int, v: bytes) -> "_CW":
        self._hdr(fid, _CT_STRUCT)
        self.b += v
        return self

    @staticmethod
    def _list_hdr(size: int, etype: int) -> bytes:
        if size < 15:
            return bytes([(size << 4) | etype])
        return bytes([0xF0 | etype]) + _uvarint(size)

    def done(self) -> bytes:
        return bytes(self.b) + b"\x00"        # STOP


# --- Thrift compact protocol: minimal reader -----------------------------------

class _CR:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def _uv(self) -> int:
        r, s = 0, 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            r |= (b & 0x7F) << s
            if not (b & 0x80):
                return r
            s += 7

    def _zz(self) -> int:
        u = self._uv()
        return (u >> 1) ^ -(u & 1)

    def _value(self, ctype: int):
        if ctype in (1, 2):                   # bool packed in header
            return ctype == 1
        if ctype in (3, 4, 5, 6):             # byte/i16/i32/i64
            return self._zz()
        if ctype == 7:                        # double
            v = np.frombuffer(self.buf, np.float64, 1, self.pos)[0]
            self.pos += 8
            return float(v)
        if ctype == 8:                        # binary
            n = self._uv()
            v = self.buf[self.pos:self.pos + n]
            self.pos += n
            return v
        if ctype in (9, 10):                  # list/set
            h = self.buf[self.pos]
            self.pos += 1
            size = h >> 4
            et = h & 0x0F
            if size == 15:
                size = self._uv()
            if et in (1, 2):
                # bool LIST elements occupy one byte each (1 = true,
                # 2 = false) — unlike struct-field bools, whose value
                # rides the field header
                out = [self.buf[self.pos + i] == 1 for i in range(size)]
                self.pos += size
                return out
            return [self._value(et) for _ in range(size)]
        if ctype == 12:                       # struct
            return self.struct()
        raise ValueError(f"compact type {ctype} unsupported")

    def struct(self) -> dict:
        """One struct -> {field_id: value}; nested structs recurse."""
        out: dict = {}
        last = 0
        while True:
            h = self.buf[self.pos]
            self.pos += 1
            if h == 0:
                return out
            delta = h >> 4
            ctype = h & 0x0F
            fid = last + delta if delta else self._zz()
            last = fid
            out[fid] = self._value(ctype)


# --- PLAIN BYTE_ARRAY layout bridge -------------------------------------------

def _interleave(arr: pa.Array) -> bytes:
    """Our split PLAIN string layout -> format PLAIN ``(u32 len, bytes)*``.
    Vectorized: one scatter for the 4 length bytes, one gather-copy for
    the payload."""
    split = plain.encode_binary(arr)
    n = len(arr)
    lens = np.frombuffer(split[:4 * n], np.uint32).astype(np.int64)
    payload = np.frombuffer(split[4 * n:], np.uint8)
    pos = np.zeros(n + 1, np.int64)
    np.cumsum(lens + 4, out=pos[1:])
    out = np.zeros(int(pos[-1]), np.uint8)
    idx = pos[:-1]
    for k in range(4):                        # 4 iterations, not per-value
        out[idx + k] = (lens >> (8 * k)) & 0xFF
    src_starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=src_starts[1:])
    dest = np.arange(payload.shape[0], dtype=np.int64) + \
        np.repeat(idx + 4 - src_starts, lens)
    out[dest] = payload
    return out.tobytes()


def _deinterleave(data: bytes, n: int, utf8: bool = True) -> pa.Array:
    """Format PLAIN ``(u32 len, bytes)*`` -> string (``utf8``) or binary
    array, via a length walk (the lengths chain, so this loop is over
    VALUES of one page — acceptable for conformance reads and the few
    pages ``read_rows`` touches; the engine's page blobs never use the
    interleaved form)."""
    import struct
    buf = np.frombuffer(data, np.uint8)
    lens = np.empty(n, np.int64)
    pos = 0
    for i in range(n):
        lens[i] = struct.unpack_from("<I", data, pos)[0]
        pos += 4 + int(lens[i])
    starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1] + 4, out=starts[1:])
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    # the values are every byte of the walked span but the prefixes
    keep = np.ones(pos, bool)
    keep[(starts[:, None] + np.arange(4)).ravel()] = False
    payload = buf[:pos][keep]
    out = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(payload.tobytes())])
    return out.cast(pa.large_string()) if utf8 else out


# --- writer --------------------------------------------------------------------

_PQ_TYPE = {"i32": T_INT32, "i64": T_INT64, "f32": T_FLOAT,
            "f64": T_DOUBLE, "str": T_BYTE_ARRAY, "bool": T_BOOLEAN}
_NP_OF = {"i32": np.int32, "i64": np.int64, "f64": np.float64}


def _colspec(t: pa.DataType) -> tuple[str, int, list[tuple[int, int]]]:
    """(emitter tag, physical type, SchemaElement extra fields) for an
    Arrow column type. Narrow ints, dates and small decimals ride the
    format's INT32/INT64 physical types with a ConvertedType annotation
    (parquet.thrift SchemaElement fids 6=converted_type 7=scale
    8=precision) — the exact storage convention pyarrow itself uses."""
    if t == pa.bool_():
        return "bool", T_BOOLEAN, []
    if t == pa.int8():
        return "i32", T_INT32, [(6, CONV_INT_8)]
    if t == pa.int16():
        return "i32", T_INT32, [(6, CONV_INT_16)]
    if t == pa.int32():
        return "i32", T_INT32, []
    if t == pa.int64():
        return "i64", T_INT64, []
    if t == pa.date32():
        return "i32", T_INT32, [(6, CONV_DATE)]
    if t == pa.float32():
        return "f32", T_FLOAT, []
    if t == pa.float64():
        return "f64", T_DOUBLE, []
    if pa.types.is_decimal(t):
        if t.precision > 18:
            raise ValueError("interop writer: decimal precision > 18")
        return "i64", T_INT64, [(6, CONV_DECIMAL),
                                (7, t.scale), (8, t.precision)]
    if pa.types.is_timestamp(t):
        # INT64 epoch micros + the modern LogicalType TIMESTAMP struct
        # (parquet.thrift fid 10; union member 8, {isAdjustedToUTC,
        # unit MICROS}); UTC-adjusted values (any Arrow tz — the int64
        # is an instant regardless of the tz label) also carry the
        # legacy ConvertedType TIMESTAMP_MICROS, matching pyarrow's
        # dual annotation. An extras value of BYTES means "struct
        # field", emitted via _CW.struct at every leaf site.
        if t.unit != "us":
            raise ValueError(
                f"interop writer: timestamp unit {t.unit!r} unsupported "
                "(cast to microseconds)")
        utc = t.tz is not None
        unit = _CW().struct(2, _CW().done()).done()     # TimeUnit MICROS
        ts = _CW().bool_(1, utc).struct(2, unit).done()
        logical = _CW().struct(8, ts).done()
        extras: list = [(10, logical)]
        if utc:
            extras.insert(0, (6, CONV_TS_MICROS))
        return "i64", T_INT64, extras
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "str", T_BYTE_ARRAY, [(6, CONV_UTF8)]
    # fail loudly: anything else (nested, unknown) must be rejected at
    # schema-check time, never coerced to strings mid-job
    raise ValueError(f"interop writer: unsupported Arrow type {t}")


def _pq_work(work: pa.Array, tag: str) -> pa.Array:
    """Null-free values in the physical-type domain the emitter packs:
    narrow ints widen to int32, date32 reinterprets as epoch-day int32,
    decimals become unscaled int64 (low word; p <= 18), strings go
    large_string."""
    t = work.type
    if t in (pa.int8(), pa.int16()):
        return work.cast(pa.int32())
    if t == pa.date32():
        return work.view(pa.int32())
    if pa.types.is_timestamp(t):
        return work.view(pa.int64())     # epoch micros, tz label dropped
    if pa.types.is_decimal(t):
        return pa.array(pagecodec.dec_unscaled(work.combine_chunks()
                        if isinstance(work, pa.ChunkedArray) else work))
    if tag == "str" and not pa.types.is_large_string(t):
        return work.cast(pa.large_string())
    return work


def _plain_values(work: pa.Array, tag: str) -> bytes:
    if tag == "str":
        return _interleave(work)
    if tag == "bool":
        return plain.encode_bool(work.to_numpy(zero_copy_only=False))
    return plain.encode_fixed(
        work.to_numpy(zero_copy_only=False), tag)


def _page_header(ptype: int, usize: int, num_values: int,
                 encoding: int, num_nulls: int = 0,
                 def_len: int = 0, rep_len: int = 0,
                 csize: int | None = None,
                 compressed: bool = False) -> bytes:
    """PageHeader bytes for a v1 data page, dictionary page, or v2 data
    page (DataPageHeaderV2 at fid 8: num_values/num_nulls/num_rows/
    encoding/def-levels-length/rep-levels-length/is_compressed).
    ``usize``/``csize`` are the thrift uncompressed_page_size /
    compressed_page_size pair (equal when the page is raw)."""
    if ptype == PAGE_DATA:
        inner = (_CW().i32(1, num_values).i32(2, encoding)
                 .i32(3, ENC_RLE).i32(4, ENC_RLE).done())
        fid = 5
    elif ptype == PAGE_DATA_V2:
        inner = (_CW().i32(1, num_values).i32(2, num_nulls)
                 .i32(3, num_values).i32(4, encoding)
                 .i32(5, def_len).i32(6, rep_len)
                 .bool_(7, compressed).done())
        fid = 8
    else:
        inner = (_CW().i32(1, num_values).i32(2, encoding).done())
        fid = 7
    w = _CW().i32(1, ptype).i32(2, usize)
    w.i32(3, usize if csize is None else csize)
    w.struct(fid, inner)
    return w.done()


def _level_stream(arr: pa.Array) -> bytes:
    """Definition-level RLE(bw=1) stream bytes from OUR encoder (no
    length prefix — v1 prepends u32, v2 carries the length in the page
    header)."""
    valid = arr.is_valid().to_numpy(zero_copy_only=False) \
        if arr.null_count else np.ones(len(arr), bool)
    stream, _ = rle.encode(valid.astype(np.uint64), bit_width=1)
    return stream


def _def_levels(arr: pa.Array) -> bytes:
    """Optional-column definition levels with the v1 u32 length prefix."""
    stream = _level_stream(arr)
    return np.uint32(len(stream)).tobytes() + stream


def _list_levels(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, pa.Array, bool]:
    """Dremel shredding of a single-level list column (the format's
    3-level LIST structure: ``optional group (LIST) { repeated group
    list { optional element } }``).

    Returns ``(rep, deflev, leaf_values_no_nulls, elem_optional)``. One
    level slot per element, plus one slot for each null or empty list.
    rep: 0 = first slot of a row, 1 = continuation. def: 0 = null list,
    1 = empty list, 2 = null element, 3 = present element (with a
    required element the writer still emits the optional-element
    structure — pyarrow's own convention for arrow list types)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = (arr.value_lengths().fill_null(0)
            .to_numpy(zero_copy_only=False).astype(np.int64))
    n = len(arr)
    list_valid = arr.is_valid().to_numpy(zero_copy_only=False) \
        if arr.null_count else np.ones(n, bool)
    lens = np.where(list_valid, lens, 0)
    slots = np.maximum(lens, 1)
    total = int(slots.sum())
    starts = np.zeros(n, np.int64)
    np.cumsum(slots[:-1], out=starts[1:])
    rep = np.ones(total, np.uint64)
    rep[starts] = 0
    flat = arr.flatten()                     # elements of non-null lists
    elem_valid = flat.is_valid().to_numpy(zero_copy_only=False) \
        if flat.null_count else np.ones(len(flat), bool)
    deflev = np.full(total, 3, np.uint64)
    # element slot index: row's first slot + intra-row offset
    ne = int(lens.sum())
    intra = np.arange(ne, dtype=np.int64) - \
        np.repeat(np.cumsum(lens) - lens, lens)
    elem_slot = np.repeat(starts, lens) + intra
    deflev[elem_slot[~elem_valid]] = 2       # null elements
    deflev[starts[(lens == 0) & list_valid]] = 1   # empty lists
    deflev[starts[~list_valid]] = 0          # null lists
    return rep, deflev, flat.drop_null(), True


def _liststruct_levels(arr: pa.Array):
    """Dremel shredding scaffold for ``list<struct<...>>`` (the format's
    LIST whose element is a GROUP): ``optional group (LIST) { repeated
    group list { optional group element { optional leaves } } }``.

    Per-field def levels extend the list domain by one: 0 = null list,
    1 = empty list, 2 = null element, 3 = element present / field null,
    4 = field value present. Returns ``(rep, base_def, elem_slot, flat,
    elem_valid)`` — the per-FIELD writer copies ``base_def`` and lifts
    slots with a present field value to 4."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = (arr.value_lengths().fill_null(0)
            .to_numpy(zero_copy_only=False).astype(np.int64))
    n = len(arr)
    list_valid = arr.is_valid().to_numpy(zero_copy_only=False) \
        if arr.null_count else np.ones(n, bool)
    lens = np.where(list_valid, lens, 0)
    slots = np.maximum(lens, 1)
    total = int(slots.sum())
    starts = np.zeros(n, np.int64)
    np.cumsum(slots[:-1], out=starts[1:])
    rep = np.ones(total, np.uint64)
    rep[starts] = 0
    flat = arr.flatten()
    elem_valid = flat.is_valid().to_numpy(zero_copy_only=False) \
        if flat.null_count else np.ones(len(flat), bool)
    ne = int(lens.sum())
    intra = np.arange(ne, dtype=np.int64) - \
        np.repeat(np.cumsum(lens) - lens, lens)
    elem_slot = np.repeat(starts, lens) + intra
    base = np.full(total, 3, np.uint64)      # element present baseline
    base[elem_slot[~elem_valid]] = 2         # null elements
    base[starts[(lens == 0) & list_valid]] = 1
    base[starts[~list_valid]] = 0
    return rep, base, elem_slot, flat, elem_valid


def _struct_levels(arr: pa.Array, field: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Definition levels for one field of an optional struct column:
    0 = struct null, 1 = struct present / field null, 2 = field present
    (`optional group { optional leaf }`). Returns (levels, leaf values
    without nulls)."""
    n = len(arr)
    sv = arr.is_valid().to_numpy(zero_copy_only=False) \
        if arr.null_count else np.ones(n, bool)
    fv = field.is_valid().to_numpy(zero_copy_only=False) \
        if field.null_count else np.ones(n, bool)
    lev = sv.astype(np.uint64) + (sv & fv)
    import pyarrow.compute as _pc
    present = field.filter(pa.array(sv & fv))
    return lev, present


def _prefixed_rle(levels: np.ndarray, bw: int) -> bytes:
    stream, _ = rle.encode(levels, bit_width=bw)
    return np.uint32(len(stream)).tobytes() + stream


_ENC_BY_NAME = {
    "delta": ENC_DELTA_BINARY_PACKED,
    "delta_length": ENC_DELTA_LENGTH_BA,
    "delta_byte_array": ENC_DELTA_BA,
    "byte_stream_split": ENC_BYTE_STREAM_SPLIT,
}


def _encode_values(work: pa.Array, tag: str, enc: int) -> bytes:
    """Value-section bytes for one data page in the given format
    encoding, from OUR kernels (deltafmt / bss / plain)."""
    if enc == ENC_PLAIN:
        return _plain_values(work, tag)
    if enc == ENC_DELTA_BINARY_PACKED:
        if tag not in ("i32", "i64"):
            raise ValueError(f"DELTA_BINARY_PACKED is int-only, got {tag}")
        return deltafmt.dbp_encode(work.to_numpy(zero_copy_only=False),
                                   bits=32 if tag == "i32" else 64)
    if enc == ENC_DELTA_LENGTH_BA:
        if tag != "str":
            raise ValueError("DELTA_LENGTH_BYTE_ARRAY is BYTE_ARRAY-only")
        return deltafmt.dlba_encode(work)
    if enc == ENC_DELTA_BA:
        if tag != "str":
            raise ValueError("DELTA_BYTE_ARRAY is BYTE_ARRAY-only")
        return deltafmt.dba_encode(work)
    if enc == ENC_BYTE_STREAM_SPLIT:
        if tag not in ("f32", "f64"):
            raise ValueError(f"BYTE_STREAM_SPLIT here is float-only, "
                             f"got {tag}")
        return bss.split_bytes(work.to_numpy(zero_copy_only=False))
    raise ValueError(f"encoding {enc} has no emitter")


def _plain_scalar_bytes(v, ptype: int) -> bytes:
    """python value -> ColumnIndex min/max bytes (PLAIN, no prefix)."""
    if ptype == T_INT32:
        return np.int32(v).tobytes()
    if ptype == T_INT64:
        return np.int64(v).tobytes()
    if ptype == T_FLOAT:
        return np.float32(v).tobytes()
    if ptype == T_DOUBLE:
        return np.float64(v).tobytes()
    if isinstance(v, str):
        return v.encode()
    return bytes(v)


def write_parquet(path: str, columns: dict[str, pa.Array],
                  dictionary: set[str] | frozenset[str] = frozenset(),
                  encodings: dict[str, str] | None = None,
                  compression: str | None = None,
                  page_rows: int | None = None,
                  page_index: bool = False,
                  row_group_rows: int | None = None,
                  statistics: bool = False,
                  string_encoding: str = "plain",
                  bloom: set[str] | frozenset[str] = frozenset(),
                  bloom_fpp: float = 0.01,
                  ) -> None:
    """Write a real one-row-group Parquet file whose page payloads come
    verbatim from OUR codec emitters. ``dictionary`` names columns
    written as dict page + RLE-coded indices (PLAIN_DICTIONARY
    convention, v1 pages); ``encodings`` maps column name -> one of
    ``delta`` (DELTA_BINARY_PACKED, int physical types),
    ``delta_length`` / ``delta_byte_array`` (BYTE_ARRAY), or
    ``byte_stream_split`` (FLOAT/DOUBLE) — those columns are written as
    **v2 data pages** (levels outside the value section, lengths carried
    in the DataPageHeaderV2). The rest are PLAIN v1 pages.

    ``compression``: one of snappy/gzip/zstd/lz4_raw applies the
    format's page-level block compression to every chunk — the whole
    page payload for v1/dictionary pages, the value section only for v2
    pages (levels stay raw per DataPageHeaderV2.is_compressed
    semantics), with the uncompressed/compressed size pair in each page
    header and the CompressionCodec id in the chunk metadata.

    ``page_rows`` splits flat PLAIN columns into multiple v1 data pages
    of at most that many rows (the other shapes stay single-page);
    ``page_index`` additionally writes the format's page-pruning
    sidecar — an OffsetIndex (PageLocation per page) and a ColumnIndex
    (null_pages / PLAIN min-max / boundary_order / null_counts) per
    flat chunk, linked from ColumnChunk fields 4-7.

    ``string_encoding="delta_length"`` writes flat string columns (not
    named in ``dictionary``/``encodings``) as DELTA_LENGTH_BYTE_ARRAY
    v1 pages — all lengths front-loaded as one DELTA_BINARY_PACKED
    block, then the concatenated bytes — the format's recommended
    string encoding, and the one whose decode is fully vectorizable
    (format PLAIN BYTE_ARRAY interleaves a u32 before every value, a
    sequential chain).

    ``row_group_rows`` splits the file into multiple row groups of at
    most that many rows (each with its own chunks/pages/indexes);
    ``statistics`` writes the ColumnMetaData Statistics struct
    (null_count / min_value / max_value, parquet.thrift fid 12) per
    flat chunk — the row-group pruning sidecar pyarrow's metadata
    reader surfaces as ``.statistics``."""
    encodings = encodings or {}
    overlap = set(encodings) & set(dictionary)
    if overlap:
        raise ValueError(f"columns both dictionary and encoded: {overlap}")
    comp_id = COMP_NONE
    codec = None
    if compression is not None:
        if compression not in _COMP_BY_NAME:
            raise ValueError(f"unsupported parquet compression "
                             f"{compression!r} (have "
                             f"{sorted(_COMP_BY_NAME)})")
        comp_id = _COMP_BY_NAME[compression]
        codec = pa.Codec(compression)
    for bname in bloom:
        if bname not in columns:
            raise ValueError(f"bloom column {bname!r} not in columns")
        bt = columns[bname].type
        if pa.types.is_nested(bt) or bt == pa.bool_():
            raise ValueError(
                f"bloom filters are flat-leaf only, not {bt}")
    n_rows = {len(a) for a in columns.values()}
    assert len(n_rows) == 1, "columns must be equal length"
    n = n_rows.pop()
    body = bytearray(_MAGIC)
    row_groups: list[tuple[list, int]] = []

    def emit_page(ptype: int, payload: bytes, nvals: int, enc: int,
                  num_nulls: int = 0, v2_levels: bytes | None = None
                  ) -> int:
        """Append one page (compressing when configured); returns the
        uncompressed page size (header + raw payload) for the chunk's
        total_uncompressed_size bookkeeping."""
        if v2_levels is not None:      # v2: levels raw, values compress
            usize = len(v2_levels) + len(payload)
            vals = codec.compress(payload, asbytes=True) if codec \
                else payload
            data = v2_levels + vals
            hdr = _page_header(ptype, usize, nvals, enc,
                               num_nulls=num_nulls,
                               def_len=len(v2_levels), csize=len(data),
                               compressed=codec is not None)
        else:
            usize = len(payload)
            data = codec.compress(payload, asbytes=True) if codec \
                else payload
            hdr = _page_header(ptype, usize, nvals, enc,
                               csize=len(data))
        body.extend(hdr)
        body.extend(data)
        return len(hdr) + usize
    rg_step = max(row_group_rows or max(n, 1), 1)
    rg_starts = list(range(0, n, rg_step)) or [0]
    # repetition (REQUIRED vs OPTIONAL) is a SCHEMA property: decide it
    # from the whole column, not the row-group slice — a null-free
    # first row group must not mark a column REQUIRED when a later one
    # carries nulls (the schema is emitted once, from the first group)
    col_has_nulls = {}
    for _nm, _a in columns.items():
        if isinstance(_a, pa.ChunkedArray):
            _a = _a.combine_chunks()
        col_has_nulls[_nm] = _a.null_count > 0
    for rg_lo in rg_starts:
      chunks = []
      for name, arr in columns.items():
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        arr = arr.slice(rg_lo, rg_step)
        nw = len(arr)
        if (pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)) \
                and pa.types.is_struct(arr.type.value_type):
            # LIST whose element is a GROUP (list<struct<leaves>>): one
            # chunk per struct field sharing the repetition stream, def
            # domain 0-4 (null list / empty / null element / field null
            # / value) — the recursive Dremel shape event-props and
            # tool-call schemas need
            rep, base_def, elem_slot, flat, elem_valid = \
                _liststruct_levels(arr)
            st_t = arr.type.value_type
            n_slots = rep.shape[0]
            first = True
            for fi in range(st_t.num_fields):
                fname = st_t.field(fi).name
                fld = flat.field(fi)
                tag, ptype, extras = _colspec(fld.type)
                if pa.types.is_nested(fld.type):
                    raise ValueError(
                        f"interop writer: list<struct> field "
                        f"{name}.{fname} type {fld.type} unsupported")
                fvalid = (fld.is_valid().to_numpy(zero_copy_only=False)
                          if fld.null_count else np.ones(len(fld), bool))
                fvalid &= elem_valid
                deflev = base_def.copy()
                deflev[elem_slot[fvalid]] = 4
                work = _pq_work(fld.filter(pa.array(fvalid)), tag)
                lvl = _prefixed_rle(rep, 1) + _prefixed_rle(deflev, 3)
                chunk_start = len(body)
                payload = lvl + _plain_values(work, tag)
                data_off = len(body)
                u_total = emit_page(PAGE_DATA, payload, n_slots,
                                    ENC_PLAIN)
                total = len(body) - chunk_start
                meta = (_CW().i32(1, ptype)
                        .list_i32(2, [ENC_PLAIN, ENC_RLE])
                        .list_binary(3, [name.encode(), b"list",
                                         b"element", fname.encode()])
                        .i32(4, comp_id)
                        .i64(5, n_slots).i64(6, u_total)
                        .i64(7, total).i64(9, data_off))
                elems_here = []
                if first:
                    elems_here.append(
                        (_CW().i32(3, REP_OPTIONAL)
                         .binary(4, name.encode())
                         .i32(5, 1).i32(6, CONV_LIST)).done())
                    elems_here.append(
                        (_CW().i32(3, REP_REPEATED).binary(4, b"list")
                         .i32(5, 1)).done())
                    elems_here.append(
                        (_CW().i32(3, REP_OPTIONAL).binary(4, b"element")
                         .i32(5, st_t.num_fields)).done())
                    first = False
                leaf_el = _CW().i32(1, ptype).i32(3, REP_OPTIONAL) \
                    .binary(4, fname.encode())
                for fid, v in extras:
                    if isinstance(v, bytes):
                        leaf_el.struct(fid, v)
                    else:
                        leaf_el.i32(fid, v)
                elems_here.append(leaf_el.done())
                chunks.append((f"{name}.list.element.{fname}",
                               elems_here, meta.done(), data_off,
                               total, None))
            continue
        if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
            # 3-level LIST structure: one v1 data page with repetition +
            # definition level streams ahead of the element values
            rep, deflev, leaf, _ = _list_levels(arr)
            tag, ptype, extras = _colspec(leaf.type)
            if tag == "bool" and name in dictionary:
                raise ValueError("the format has no BOOLEAN dictionary "
                                 "encoding; write list<bool> PLAIN")
            work = _pq_work(leaf, tag)
            n_slots = rep.shape[0]
            lvl = _prefixed_rle(rep, 1) + _prefixed_rle(deflev, 2)
            chunk_start = len(body)
            dict_off = None
            u_total = 0
            if name in dictionary:
                dct = work.dictionary_encode()
                uniq = _pq_work(dct.dictionary, tag)
                dict_payload = _plain_values(uniq, tag)
                codes = dct.indices.to_numpy(zero_copy_only=False) \
                    .astype(np.uint64)
                bw = max(int(codes.max()).bit_length(), 1) \
                    if len(codes) else 1
                idx_stream, _ = rle.encode(codes, bit_width=bw)
                data_payload = lvl + bytes([bw]) + idx_stream
                dict_off = len(body)
                u_total += emit_page(PAGE_DICTIONARY, dict_payload,
                                     len(uniq), ENC_PLAIN_DICTIONARY)
                data_off = len(body)
                u_total += emit_page(PAGE_DATA, data_payload, n_slots,
                                     ENC_PLAIN_DICTIONARY)
                enc_list = [ENC_PLAIN_DICTIONARY, ENC_RLE]
            else:
                data_payload = lvl + _plain_values(work, tag)
                data_off = len(body)
                u_total += emit_page(PAGE_DATA, data_payload, n_slots,
                                     ENC_PLAIN)
                enc_list = [ENC_PLAIN, ENC_RLE]
            total = len(body) - chunk_start
            path_seg = [name.encode(), b"list", b"element"]
            meta = (_CW().i32(1, ptype).list_i32(2, enc_list)
                    .list_binary(3, path_seg).i32(4, comp_id)
                    .i64(5, n_slots).i64(6, u_total).i64(7, total)
                    .i64(9, data_off))
            if dict_off is not None:
                meta.i64(11, dict_off)
            group = (_CW().i32(3, REP_OPTIONAL).binary(4, name.encode())
                     .i32(5, 1).i32(6, CONV_LIST)).done()
            mid = (_CW().i32(3, REP_REPEATED).binary(4, b"list")
                   .i32(5, 1)).done()
            leaf_el = _CW().i32(1, ptype).i32(3, REP_OPTIONAL) \
                .binary(4, b"element")
            for fid, v in extras:
                if isinstance(v, bytes):
                    leaf_el.struct(fid, v)
                else:
                    leaf_el.i32(fid, v)
            chunks.append((name, [group, mid, leaf_el.done()],
                           meta.done(), data_off, total, None))
            continue
        if pa.types.is_map(arr.type):
            # MAP structure: `optional group (MAP) { repeated group
            # key_value { required key; optional value } }` — the key
            # and value chunks share the repetition stream; key def
            # tops at 2 (required), value at 3
            moff = np.frombuffer(arr.buffers()[1], np.int32,
                                 len(arr) + 1, offset=arr.offset * 4) \
                .astype(np.int64)
            mlens = np.diff(moff)
            mvalid = arr.is_valid().to_numpy(zero_copy_only=False) \
                if arr.null_count else np.ones(nw, bool)
            mlens = np.where(mvalid, mlens, 0)
            slots = np.maximum(mlens, 1)
            total_slots = int(slots.sum())
            starts = np.zeros(nw, np.int64)
            np.cumsum(slots[:-1], out=starts[1:])
            rep = np.ones(total_slots, np.uint64)
            rep[starts] = 0
            ne = int(mlens.sum())
            intra = np.arange(ne, dtype=np.int64) - \
                np.repeat(np.cumsum(mlens) - mlens, mlens)
            entry_slot = np.repeat(starts, mlens) + intra
            base_def = np.zeros(total_slots, np.uint64)
            base_def[starts[(mlens == 0) & mvalid]] = 1
            base_def[entry_slot] = 2
            # entries of non-null maps, flattened in order
            # .keys/.items of a SLICED MapArray are the parent's full
            # children: entry indices need the slice's base offset
            sel = pa.array(np.flatnonzero(
                np.repeat(mvalid, np.diff(moff))) + int(moff[0]))
            keys_all = arr.keys.take(sel)
            items_all = arr.items.take(sel)
            first = True
            for leaf_name, leaf_arr, extra_def in (
                    ("key", keys_all, None), ("value", items_all, 2)):
                tag, ptype, extras = _colspec(leaf_arr.type)
                if pa.types.is_nested(leaf_arr.type):
                    raise ValueError(
                        f"interop writer: map {leaf_name} type "
                        f"{leaf_arr.type} unsupported")
                deflev = base_def.copy()
                if extra_def is None:         # required key: max_def 2
                    work_leaf = leaf_arr
                    def_bw = 2
                else:                         # optional value: max_def 3
                    lv = leaf_arr.is_valid().to_numpy(
                        zero_copy_only=False) if leaf_arr.null_count \
                        else np.ones(len(leaf_arr), bool)
                    deflev[entry_slot[lv]] = 3
                    work_leaf = leaf_arr.drop_null()
                    def_bw = 2
                lvl = _prefixed_rle(rep, 1) + _prefixed_rle(deflev,
                                                            def_bw)
                chunk_start = len(body)
                payload = lvl + _plain_values(
                    _pq_work(work_leaf, tag), tag)
                data_off = len(body)
                u_total = emit_page(PAGE_DATA, payload, total_slots,
                                    ENC_PLAIN)
                total = len(body) - chunk_start
                meta = (_CW().i32(1, ptype)
                        .list_i32(2, [ENC_PLAIN, ENC_RLE])
                        .list_binary(3, [name.encode(), b"key_value",
                                         leaf_name.encode()])
                        .i32(4, comp_id)
                        .i64(5, total_slots).i64(6, u_total)
                        .i64(7, total).i64(9, data_off))
                elems_here = []
                if first:
                    elems_here.append(
                        (_CW().i32(3, REP_OPTIONAL)
                         .binary(4, name.encode())
                         .i32(5, 1).i32(6, CONV_MAP)).done())
                    elems_here.append(
                        (_CW().i32(3, REP_REPEATED)
                         .binary(4, b"key_value").i32(5, 2)).done())
                    first = False
                leaf_el = _CW().i32(1, ptype) \
                    .i32(3, REP_REQUIRED if leaf_name == "key"
                         else REP_OPTIONAL) \
                    .binary(4, leaf_name.encode())
                for fid, v in extras:
                    if isinstance(v, bytes):
                        leaf_el.struct(fid, v)
                    else:
                        leaf_el.i32(fid, v)
                elems_here.append(leaf_el.done())
                chunks.append((f"{name}.key_value.{leaf_name}",
                               elems_here, meta.done(), data_off,
                               total, None))
            continue
        if pa.types.is_struct(arr.type):
            # one-level struct: `optional group { optional leaf ... }` —
            # one chunk per field, def levels 0/1/2 (null struct /
            # present struct + null field / present field), no rep
            st_t = arr.type
            first = True
            for fi in range(st_t.num_fields):
                fname = st_t.field(fi).name
                fld = arr.field(fi)
                tag, ptype, extras = _colspec(fld.type)
                if pa.types.is_nested(fld.type):
                    raise ValueError(
                        f"interop writer: struct field {name}.{fname} "
                        f"type {fld.type} unsupported")
                lev, present = _struct_levels(arr, fld)
                chunk_start = len(body)
                payload = _prefixed_rle(lev, 2) + _plain_values(
                    _pq_work(present, tag), tag)
                data_off = len(body)
                u_total = emit_page(PAGE_DATA, payload, nw, ENC_PLAIN)
                total = len(body) - chunk_start
                meta = (_CW().i32(1, ptype)
                        .list_i32(2, [ENC_PLAIN, ENC_RLE])
                        .list_binary(3, [name.encode(), fname.encode()])
                        .i32(4, comp_id)
                        .i64(5, nw).i64(6, u_total).i64(7, total)
                        .i64(9, data_off))
                elems_here = []
                if first:
                    elems_here.append(
                        (_CW().i32(3, REP_OPTIONAL)
                         .binary(4, name.encode())
                         .i32(5, st_t.num_fields)).done())
                    first = False
                leaf_el = _CW().i32(1, ptype).i32(3, REP_OPTIONAL) \
                    .binary(4, fname.encode())
                for fid, v in extras:
                    if isinstance(v, bytes):
                        leaf_el.struct(fid, v)
                    else:
                        leaf_el.i32(fid, v)
                elems_here.append(leaf_el.done())
                chunks.append((f"{name}.{fname}", elems_here,
                               meta.done(), data_off, total, None))
            continue
        tag, ptype, extras = _colspec(arr.type)
        work = arr.drop_null() if arr.null_count else arr
        optional = col_has_nulls[name]
        levels = _def_levels(arr) if optional else b""
        dict_off = None
        boff = blen = None
        if name in bloom:
            # SBBF sidecar for this row group's chunk, placed right
            # before its pages so ColumnMetaData fields 14/15 are known
            # when the chunk metadata serializes (the format only
            # requires the offset to resolve; placement is free)
            sidecar = _bloom_sidecar(
                _pq_work(work.unique(), tag), ptype, bloom_fpp)
            boff, blen = len(body), len(sidecar)
            body.extend(sidecar)
        chunk_start = len(body)
        u_total = 0
        pidx = None
        if name in encodings:
            enc = _ENC_BY_NAME[encodings[name]]
            lvl = _level_stream(arr) if optional else b""
            payload = _encode_values(_pq_work(work, tag), tag, enc)
            data_off = len(body)
            u_total += emit_page(PAGE_DATA_V2, payload, nw, enc,
                                 num_nulls=arr.null_count, v2_levels=lvl)
            enc_list = [enc, ENC_RLE]
        elif name in dictionary:
            if tag == "bool":
                raise ValueError("the format has no BOOLEAN dictionary "
                                 "encoding; write bools PLAIN")
            dct = work.dictionary_encode()
            uniq = _pq_work(dct.dictionary, tag)
            dict_payload = _plain_values(uniq, tag)
            codes = dct.indices.to_numpy(zero_copy_only=False) \
                .astype(np.uint64)
            bw = max(int(codes.max()).bit_length(), 1) if len(codes) else 1
            idx_stream, _ = rle.encode(codes, bit_width=bw)
            data_payload = levels + bytes([bw]) + idx_stream
            dict_off = len(body)
            u_total += emit_page(PAGE_DICTIONARY, dict_payload,
                                 len(uniq), ENC_PLAIN_DICTIONARY)
            data_off = len(body)
            u_total += emit_page(PAGE_DATA, data_payload, nw,
                                 ENC_PLAIN_DICTIONARY)
            enc_list = [ENC_PLAIN_DICTIONARY, ENC_RLE]
        else:
            # flat PLAIN: split into page_rows-sized v1 pages, tracking
            # per-page locations and min/max for the page index
            step = page_rows if page_rows else nw
            step = max(step, 1)
            if page_index and tag != "bool":
                pidx = {"pages": [], "null_pages": [], "mins": [],
                        "maxs": [], "mins_v": [], "maxs_v": [],
                        "null_counts": []}
            data_off = None
            use_dlba = string_encoding == "delta_length" and tag == "str"
            val_enc = ENC_DELTA_LENGTH_BA if use_dlba else ENC_PLAIN
            for lo_r in range(0, max(nw, 1), step):
                win = arr.slice(lo_r, step)
                nww = len(win)
                if nww == 0 and nw > 0:
                    break
                wwork = win.drop_null() if win.null_count else win
                wlev = _def_levels(win) if optional else b""
                if use_dlba:
                    vals_b = deltafmt.dlba_encode(_pq_work(wwork, tag))
                else:
                    vals_b = _plain_values(_pq_work(wwork, tag), tag)
                payload = wlev + vals_b
                off = len(body)
                if data_off is None:
                    data_off = off
                u_total += emit_page(PAGE_DATA, payload, nww, val_enc)
                if pidx is not None:
                    # PageLocation.first_row_index is ROW-GROUP-relative
                    # (parquet.thrift) — parquet-mr's column-index
                    # filtering computes row ranges from it
                    pidx["pages"].append((off, len(body) - off, lo_r))
                    nulls = win.null_count
                    pidx["null_counts"].append(int(nulls))
                    if len(wwork) == 0:
                        pidx["null_pages"].append(True)
                        pidx["mins"].append(b"")
                        pidx["maxs"].append(b"")
                        pidx["mins_v"].append(None)
                        pidx["maxs_v"].append(None)
                    else:
                        import pyarrow.compute as _pc
                        mm = _pc.min_max(_pq_work(wwork, tag))
                        mn, mx = mm["min"].as_py(), mm["max"].as_py()
                        pidx["null_pages"].append(False)
                        pidx["mins"].append(_plain_scalar_bytes(mn, ptype))
                        pidx["maxs"].append(_plain_scalar_bytes(mx, ptype))
                        pidx["mins_v"].append(mn)
                        pidx["maxs_v"].append(mx)
                if nw == 0:
                    break
            enc_list = [val_enc, ENC_RLE]
        # chunk sizes INCLUDE the page headers (parquet.thrift
        # total_compressed_size semantics — readers slice the chunk
        # region by this)
        total = len(body) - chunk_start
        meta = (_CW().i32(1, ptype).list_i32(2, enc_list)
                .list_binary(3, [name.encode()]).i32(4, comp_id)
                .i64(5, nw).i64(6, u_total).i64(7, total)
                .i64(9, data_off))
        if dict_off is not None:
            meta.i64(11, dict_off)
        if statistics and tag != "bool":
            w_all = arr.drop_null() if arr.null_count else arr
            st = _CW().i64(3, arr.null_count)
            if len(w_all):
                import pyarrow.compute as _pc
                mm = _pc.min_max(_pq_work(w_all, tag))
                st.binary(5, _plain_scalar_bytes(mm["max"].as_py(), ptype))
                st.binary(6, _plain_scalar_bytes(mm["min"].as_py(), ptype))
            meta.struct(12, st.done())
        if boff is not None:
            meta.i64(14, boff).i32(15, blen)
        e = _CW().i32(1, ptype) \
            .i32(3, REP_OPTIONAL if optional else REP_REQUIRED) \
            .binary(4, name.encode())
        for fid, v in extras:
            if isinstance(v, bytes):
                e.struct(fid, v)
            else:
                e.i32(fid, v)
        chunks.append((name, [e.done()], meta.done(), data_off, total,
                       pidx))
      row_groups.append(
          (chunks, min(rg_step, n - rg_lo) if n else 0))
    # page-index sidecars land between the chunks and the footer
    # (parquet-format PageIndex layout); ColumnChunk structs serialize
    # afterwards so fields 4-7 can point at them
    rg_bytes = []
    for chunks, rg_n in row_groups:
        cc_bytes = []
        for cname, col_elems, meta_b, data_off, total, pidx in chunks:
            cw = _CW().i64(2, data_off).struct(3, meta_b)
            if pidx is not None and pidx["pages"]:
                oi_off = len(body)
                locs = [(_CW().i64(1, off).i32(2, csz).i64(3, fr)).done()
                        for off, csz, fr in pidx["pages"]]
                oi = _CW().list_struct(1, locs).done()
                body += oi
                mvs = [v for v in pidx["mins_v"] if v is not None]
                xvs = [v for v in pidx["maxs_v"] if v is not None]
                asc = all(a <= b for a, b in zip(mvs, mvs[1:])) \
                    and all(a <= b for a, b in zip(xvs, xvs[1:]))
                desc = all(a >= b for a, b in zip(mvs, mvs[1:])) \
                    and all(a >= b for a, b in zip(xvs, xvs[1:]))
                order = BOUNDARY_ASC if asc else (
                    BOUNDARY_DESC if desc else BOUNDARY_UNORDERED)
                ci_off = len(body)
                ci = (_CW().list_bool(1, pidx["null_pages"])
                      .list_binary(2, pidx["mins"])
                      .list_binary(3, pidx["maxs"])
                      .i32(4, order)
                      .list_i64(5, pidx["null_counts"])).done()
                body += ci
                cw.i64(4, oi_off).i32(5, len(oi))
                cw.i64(6, ci_off).i32(7, len(ci))
            cc_bytes.append(cw.done())
        rg_bytes.append((_CW().list_struct(1, cc_bytes)
                         .i64(2, sum(c[4] for c in chunks))
                         .i64(3, rg_n)).done())
    root = (_CW().binary(4, b"schema").i32(5, len(columns))).done()
    elems = [root]
    for _, col_elems, _, _, _, _ in row_groups[0][0]:
        elems.extend(col_elems)
    # column_orders (fid 7): one TYPE_ORDER per leaf — without this
    # parquet-cpp refuses to surface the v2 min_value/max_value stats
    type_order = _CW().struct(1, _CW().done()).done()
    fmeta = (_CW().i32(1, 1).list_struct(2, elems).i64(3, n)
             .list_struct(4, rg_bytes)
             .binary(6, b"cpp_parquet_spark interop")
             .list_struct(7, [type_order] * len(row_groups[0][0]))).done()
    body += fmeta
    body += np.uint32(len(fmeta)).tobytes()
    body += _MAGIC
    with open(path, "wb") as f:
        f.write(bytes(body))


# --- reader (pyarrow-written file -> our decoders) ------------------------------

def read_parquet_with_our_codecs(path: str,
                                 columns: list[str] | None = None,
                                 row_groups: "list[int] | None" = None
                                 ) -> dict[str, pa.Array]:
    """Decode every column of a Parquet file (v1 or v2 data pages,
    UNCOMPRESSED or SNAPPY/GZIP/ZSTD/LZ4_RAW page compression — v1
    whole-payload, v2 value-section) using OUR
    rle/plain/dictionary/deltafmt/bss kernels (page headers and footer
    parsed with the minimal compact-protocol reader). Supports the
    subset the conformance tests write via pyarrow: flat
    INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY(UTF8) columns, PLAIN /
    dictionary / DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY /
    DELTA_BYTE_ARRAY / BYTE_STREAM_SPLIT encoded, optional or required,
    any number of data pages per chunk."""
    buf = _map_file(path)
    assert buf[:4] == _MAGIC and buf[-4:] == _MAGIC, "not a parquet file"
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    schema = meta[2]
    # depth-first schema walk (SchemaElement.num_children, fid 5): leaf
    # -> (ptype, el, max_rep, max_def, def_at_rep). def increments per
    # optional-or-repeated ancestor, rep per repeated; def_at_rep is the
    # def level at the (single supported) repeated ancestor — slots with
    # def >= def_at_rep carry an element, def == def_at_rep - 1 is an
    # empty list, anything lower a null list.
    leaves: dict[str, tuple] = {}
    pos_ref = [1]

    def _consume(prefix: tuple, d: int, r: int, def_at_rep: int | None):
        el = schema[pos_ref[0]]
        pos_ref[0] += 1
        rep_t = el.get(3, 0)
        nd = d + (1 if rep_t != REP_REQUIRED else 0)
        nr = r + (1 if rep_t == REP_REPEATED else 0)
        dar = nd if rep_t == REP_REPEATED else def_at_rep
        path = prefix + (el[4].decode(),)
        nch = el.get(5, 0)
        if nch == 0:
            leaves[".".join(path)] = (el[1], el, nr, nd, dar)
        else:
            for _ in range(nch):
                _consume(path, nd, nr, dar)

    n_top = schema[0].get(5, len(schema) - 1)
    for _ in range(n_top):
        _consume((), 0, 0, None)
    parts: dict[str, list[pa.Array]] = {}
    # one-level struct leaves (path [struct, field]) collect values +
    # def levels per row group; assembled into StructArrays at the end
    struct_parts: dict[str, dict[str, list]] = {}
    for rgi, rg in enumerate(meta[4]):
        if row_groups is not None and rgi not in row_groups:
            continue                 # row-group pruning: skip the chunks
        for chunk in rg[1]:
            cm = chunk[3]
            pathname = ".".join(seg.decode() for seg in cm[3])
            name = cm[3][0].decode()
            if columns is not None and name not in columns:
                continue              # projection: skip the chunk bytes
            ptype, el, max_rep, max_def, def_at_rep = leaves[pathname]
            if max_rep > 1:
                raise ValueError("only single-level lists supported")
            optional = max_rep == 0 and max_def > 0
            n_total = cm[5]
            pos = cm.get(11, cm[9])           # dictionary page first if any
            comp = cm.get(4, 0)
            if comp and comp not in _COMP_NAME:
                raise ValueError(f"compression codec {comp} unsupported")
            dcodec = pa.Codec(_COMP_NAME[comp]) if comp else None
            uniq = None
            got: list[pa.Array] = []
            reps: list[np.ndarray] = []
            defs: list[np.ndarray] = []
            def_bw = bit_width_for(max_def) if max_def else 0
            rep_bw = bit_width_for(max_rep) if max_rep else 0
            n_seen = 0
            while n_seen < n_total:
                r = _CR(buf, pos)
                ph = r.struct()
                payload = buf[r.pos:r.pos + ph[3]]
                pos = r.pos + ph[3]
                # v1 + dictionary pages: the whole payload is the
                # compression unit (v2 pages keep levels raw — handled
                # in the v2 branch)
                if dcodec is not None and ph[1] != PAGE_DATA_V2:
                    payload = dcodec.decompress(
                        payload, decompressed_size=ph[2], asbytes=True)
                if ph[1] == PAGE_DICTIONARY:
                    nd = ph[7][1]
                    uniq = _decode_plain(payload, nd, ptype, el.get(2, 0))
                    continue
                if ph[1] == PAGE_DATA:
                    dp = ph[5]
                    nv = dp[1]
                    enc = dp[2]
                    # v1: levels ride the value section, rep before def,
                    # each a u32-length-prefixed RLE stream
                    if max_rep:
                        rlen = int(np.frombuffer(payload[:4], np.uint32)[0])
                        reps.append(rle.decode(payload[4:4 + rlen],
                                               {"bw": rep_bw}, nv))
                        payload = payload[4 + rlen:]
                    if max_def:
                        dlen = int(np.frombuffer(payload[:4], np.uint32)[0])
                        levels = rle.decode(payload[4:4 + dlen],
                                            {"bw": def_bw}, nv)
                        payload = payload[4 + dlen:]
                    else:
                        levels = np.full(nv, max_def, np.uint64)
                elif ph[1] == PAGE_DATA_V2:
                    # DataPageHeaderV2: 1=num_values 2=num_nulls
                    # 4=encoding 5=def-levels len 6=rep-levels len;
                    # levels lead the payload, rep before def, no prefix
                    dp = ph[8]
                    nv = dp[1]
                    enc = dp[4]
                    rlen, dlen = dp.get(6, 0), dp.get(5, 0)
                    if max_rep:
                        reps.append(rle.decode(payload[:rlen],
                                               {"bw": rep_bw}, nv))
                    if dlen:
                        levels = rle.decode(payload[rlen:rlen + dlen],
                                            {"bw": def_bw}, nv)
                    else:
                        levels = np.full(nv, max_def, np.uint64)
                    payload = payload[rlen + dlen:]
                    # v2: only the value section compresses, flagged by
                    # DataPageHeaderV2.is_compressed (default true when
                    # the chunk has a codec)
                    if dcodec is not None and dp.get(7, True):
                        payload = dcodec.decompress(
                            payload,
                            decompressed_size=ph[2] - rlen - dlen,
                            asbytes=True)
                else:
                    continue
                defs.append(levels)
                valid = levels == max_def     # slots storing a value
                k = int(valid.sum())
                if enc in (ENC_PLAIN_DICTIONARY, ENC_RLE_DICTIONARY):
                    bw = payload[0]
                    codes = rle.decode(payload[1:], {"bw": int(bw)}, k)
                    vals = uniq.take(pa.array(codes.astype(np.int64)))
                elif enc == ENC_PLAIN:
                    vals = _decode_plain(payload, k, ptype, el.get(2, 0))
                elif enc == ENC_DELTA_BINARY_PACKED:
                    v, _ = deltafmt.dbp_decode(
                        payload, 0, bits=32 if ptype == T_INT32 else 64)
                    if v.size != k:
                        raise ValueError(f"DBP count {v.size} != {k}")
                    vals = pa.array(v)
                elif enc == ENC_DELTA_LENGTH_BA:
                    vals = deltafmt.dlba_decode(payload, k) \
                        .cast(pa.large_string())
                elif enc == ENC_DELTA_BA:
                    vals = deltafmt.dba_decode(payload, k) \
                        .cast(pa.large_string())
                elif enc == ENC_BYTE_STREAM_SPLIT:
                    dt = {T_FLOAT: np.float32, T_DOUBLE: np.float64}[ptype]
                    vals = pa.array(bss.unsplit_bytes(payload, k, dt))
                elif enc == ENC_RLE and ptype == T_BOOLEAN:
                    # v2 data pages carry BOOLEAN values RLE-encoded
                    # (u32 length prefix + rle/bit-packed, bw=1)
                    vlen = int(np.frombuffer(payload[:4], np.uint32)[0])
                    vals = pa.array(
                        rle.decode(payload[4:4 + vlen],
                                   {"bw": 1}, k).astype(bool))
                else:
                    raise ValueError(f"encoding {enc} unsupported")
                if max_rep == 0 and k < nv:
                    idx = np.cumsum(valid, dtype=np.int64) - 1
                    vals = vals.take(pa.array(idx, mask=~valid))
                got.append(vals)
                n_seen += nv
            if not got:              # zero-row chunk: typed empty
                got = [_decode_plain(b"", 0, ptype, el.get(2, 0))]
            col = pa.concat_arrays([g.cast(got[0].type) for g in got])
            if max_rep:
                dl_full = np.concatenate(defs) if defs \
                    else np.empty(0, np.uint64)
                col = _reassemble_list(
                    col,
                    np.concatenate(reps) if reps else np.empty(0, np.uint64),
                    dl_full, max_def, def_at_rep, el)
                if len(cm[3]) == 3 and cm[3][1] == b"key_value":
                    fields = struct_parts.setdefault(
                        "\x00map:" + name, {})
                    fields.setdefault(cm[3][2].decode(), []).append(
                        (col, None))
                elif len(cm[3]) == 4 and cm[3][1] == b"list":
                    # list<struct> leaf: keep the def stream — it is
                    # the only place the null-ELEMENT (def 2) vs
                    # field-null (def 3) distinction lives
                    fields = struct_parts.setdefault(
                        "\x00liststruct:" + name, {})
                    fields.setdefault(cm[3][3].decode(), []).append(
                        (col, dl_full))
                else:
                    parts.setdefault(name, []).append(col)
            elif len(cm[3]) == 2:
                dl = np.concatenate(defs) if defs \
                    else np.empty(0, np.uint64)
                fields = struct_parts.setdefault(name, {})
                fields.setdefault(cm[3][1].decode(), []).append(
                    (_apply_converted(col, el), dl))
            else:
                parts.setdefault(name, []).append(
                    _apply_converted(col, el))
    # one chunk per column per row group: concatenate in row-group order
    out = {name: (arrs[0] if len(arrs) == 1 else
                  pa.concat_arrays([a.cast(arrs[0].type) for a in arrs]))
           for name, arrs in parts.items()}
    for sname, fields in struct_parts.items():
        if sname.startswith("\x00map:"):
            # map assembly: the key/value LIST reassemblies share
            # offsets and validity; flatten both onto one offset run
            mname = sname[len("\x00map:"):]
            klist = pa.concat_arrays(
                [c.cast(fields["key"][0][0].type)
                 for c, _ in fields["key"]])
            vlist = pa.concat_arrays(
                [c.cast(fields["value"][0][0].type)
                 for c, _ in fields["value"]])
            noffs = np.frombuffer(klist.buffers()[1], np.int64,
                                  len(klist) + 1,
                                  offset=klist.offset * 8) \
                .astype(np.int32)
            valid = klist.is_valid().to_numpy(zero_copy_only=False) \
                if klist.null_count else np.ones(len(klist), bool)
            offs0 = pa.array(
                [None if not v else int(o)
                 for v, o in zip(valid, noffs[:-1])]
                + [int(noffs[-1])], pa.int32())
            out[mname] = pa.MapArray.from_arrays(
                offs0, klist.flatten(), vlist.flatten())
            continue
        if sname.startswith("\x00liststruct:"):
            # list<struct> assembly: every field's leaf reassembles to
            # an aligned list (same offsets/validity — they share the
            # rep stream); zip the flattened children into a
            # StructArray, element validity from the shared def stream
            # (def >= 3 = element present), then rewrap with the
            # reference field's list offsets + validity
            lname = sname[len("\x00liststruct:"):]
            names, children, ref, dl = [], [], None, None
            for fname, pieces in fields.items():
                la = pa.concat_arrays(
                    [c.cast(pieces[0][0].type) for c, _ in pieces])
                names.append(fname)
                children.append(la.flatten())
                if ref is None:
                    ref = la
                    dl = np.concatenate([d for _, d in pieces]) \
                        if pieces else np.empty(0, np.uint64)
            edef = dl[dl >= 2]               # one entry per element slot
            st = pa.StructArray.from_arrays(
                children, names, mask=pa.array(~(edef >= 3)))
            out[lname] = pa.Array.from_buffers(
                pa.large_list(st.type), len(ref),
                [ref.buffers()[0], ref.buffers()[1]], children=[st])
            continue
        cols, names = [], []
        struct_valid = None
        for fname, pieces in fields.items():
            arr = pa.concat_arrays(
                [c.cast(pieces[0][0].type) for c, _ in pieces])
            cols.append(arr)
            names.append(fname)
            if struct_valid is None:
                dl = np.concatenate([d for _, d in pieces]) \
                    if pieces else np.empty(0, np.uint64)
                struct_valid = dl >= 1        # def 0 = struct null
        out[sname] = pa.StructArray.from_arrays(
            cols, names, mask=pa.array(~struct_valid))
    return out


def _reassemble_list(vals: pa.Array, rep: np.ndarray, deflev: np.ndarray,
                     max_def: int, def_at_rep: int, el: dict) -> pa.Array:
    """Dremel record reassembly for a single-level list column.

    ``vals`` holds only the stored leaf values (def == max_def, in slot
    order); rep/def are the full level streams. rep == 0 starts a row;
    def >= def_at_rep marks an element slot (null element when
    def < max_def, possible only with an optional element);
    def == def_at_rep - 1 an empty list; lower a null list."""
    n_slots = rep.shape[0]
    row_start = np.flatnonzero(rep == 0)
    n_rows = row_start.shape[0]
    elem_slot = deflev >= def_at_rep
    elem_valid = deflev[elem_slot] == max_def
    # re-insert null elements among the element slots
    if not elem_valid.all():
        idx = np.cumsum(elem_valid, dtype=np.int64) - 1
        vals = vals.take(pa.array(idx, mask=~elem_valid))
    vals = _apply_converted(vals, el)
    counts = np.add.reduceat(elem_slot.astype(np.int64), row_start) \
        if n_rows else np.empty(0, np.int64)
    offs = np.zeros(n_rows + 1, np.int64)
    np.cumsum(counts, out=offs[1:])
    list_valid = deflev[row_start] >= def_at_rep - 1
    vbuf = None
    if not list_valid.all():
        vbuf = pa.py_buffer(
            np.packbits(list_valid, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.large_list(vals.type), n_rows,
        [vbuf, pa.py_buffer(offs.tobytes())], children=[vals])


def _apply_converted(col: pa.Array, el: dict) -> pa.Array:
    """Lift a physical-domain column into its ConvertedType annotation
    (date32 / narrow ints / decimal). Decimal reinterprets the ints as
    UNSCALED values (a plain cast would scale them), via the text form —
    per-value Python, acceptable for conformance reads."""
    conv = el.get(6)
    ts_t = _ts_logical(el)
    if ts_t is not None:
        return col.cast(pa.int64()).view(ts_t)
    if conv == CONV_DATE:
        return col.cast(pa.int32()).view(pa.date32())
    if conv == CONV_INT_8:
        return col.cast(pa.int8())
    if conv == CONV_INT_16:
        return col.cast(pa.int16())
    if conv == CONV_DECIMAL:
        import decimal
        s, p = el.get(7, 0), el.get(8, 38)

        def as_unscaled(v):
            # INT32/INT64 storage gives ints; FLBA storage gives
            # big-endian two's-complement bytes (parquet.thrift DECIMAL)
            if isinstance(v, bytes):
                return int.from_bytes(v, "big", signed=True)
            return int(v)

        return pa.array(
            [None if v is None else
             decimal.Decimal(as_unscaled(v)).scaleb(-s)
             for v in col.to_pylist()], pa.decimal128(p, s))
    return col


def _decode_plain(payload: bytes, k: int, ptype: int,
                  tlen: int = 0, utf8: bool = True) -> pa.Array:
    if ptype == T_BYTE_ARRAY:
        return _deinterleave(payload, k, utf8)
    if ptype == T_BOOLEAN:
        return pa.array(plain.decode_bool(payload, k))
    if ptype == T_FLBA:
        return pa.array([payload[i * tlen:(i + 1) * tlen]
                         for i in range(k)], pa.binary())
    np_t = {T_INT32: "i32", T_INT64: "i64",
            T_FLOAT: "f32", T_DOUBLE: "f64"}[ptype]
    return pa.array(plain.decode_fixed(payload, np_t, k))


# --- PageIndex (ColumnIndex / OffsetIndex, parquet.thrift) ---------------------
#
# The format's page-level pruning sidecar: per chunk, an OffsetIndex
# (PageLocation{offset, compressed_page_size, first_row_index} per page)
# and a ColumnIndex (null_pages / min_values / max_values /
# boundary_order / null_counts, min-max PLAIN-encoded without the
# BYTE_ARRAY length prefix). The structural twin of the engine's zone
# maps (stats.py) — these functions prove the engine's pruning model
# against the standard format: `read_page_index` parses pyarrow-written
# indexes with the minimal Thrift reader, and `read_column_pruned`
# decodes ONLY the pages whose [min,max] window intersects a predicate,
# through our kernels.

BOUNDARY_UNORDERED, BOUNDARY_ASC, BOUNDARY_DESC = 0, 1, 2


def _plain_scalar(b: bytes, ptype: int):
    """ColumnIndex min/max bytes -> python value (PLAIN, no prefix)."""
    if ptype == T_INT32:
        return int(np.frombuffer(b, np.int32, 1)[0])
    if ptype == T_INT64:
        return int(np.frombuffer(b, np.int64, 1)[0])
    if ptype == T_FLOAT:
        return float(np.frombuffer(b, np.float32, 1)[0])
    if ptype == T_DOUBLE:
        return float(np.frombuffer(b, np.float64, 1)[0])
    if ptype == T_BOOLEAN:
        return bool(b[0])
    return bytes(b)                           # BYTE_ARRAY / FLBA: raw


def _walk_leaves(schema: list) -> dict[str, dict]:
    """Depth-first SchemaElement walk -> {dotted leaf path:
    SchemaElement}. The FULL dotted path is the key, so a nested leaf
    sharing a flat column's bare name (``struct.doc_id`` vs ``doc_id``)
    can never shadow it — every consumer that resolves a chunk's
    ColumnMetaData.path_in_schema to its physical type must go through
    this walk, not a bare-name scan."""
    leaves: dict[str, dict] = {}
    pos = [1]

    def _consume(prefix: tuple) -> None:
        el = schema[pos[0]]
        pos[0] += 1
        path = prefix + (el[4].decode(),)
        nch = el.get(5, 0)
        if nch == 0:
            leaves[".".join(path)] = el
        else:
            for _ in range(nch):
                _consume(path)

    for _ in range(schema[0].get(5, len(schema) - 1)):
        _consume(())
    return leaves


def _ts_logical(el: dict) -> "pa.DataType | None":
    """TIMESTAMP annotation of a SchemaElement, from the LogicalType
    struct (fid 10 member 8: {1: isAdjustedToUTC, 2: unit union}) when
    present — the only place the UTC-adjusted vs NTZ distinction lives
    — else from legacy ConvertedType TIMESTAMP_MICROS (implies UTC).
    Returns the Arrow timestamp type, or None when not a timestamp."""
    lt = el.get(10)
    if isinstance(lt, dict) and 8 in lt:
        ts = lt[8]
        unit = {1: "ms", 2: "us", 3: "ns"}.get(
            next(iter(ts.get(2, {2: {}}))), "us")
        return pa.timestamp(unit, tz="UTC" if ts.get(1) else None)
    if el.get(6) == CONV_TS_MICROS:
        return pa.timestamp("us", tz="UTC")
    return None


def _leaf_arrow_type(el: dict) -> pa.DataType:
    """SchemaElement (leaf) -> the Arrow type our reader materializes:
    physical type + ConvertedType/LogicalType lift
    (UTF8/date/narrow-int/decimal/timestamp). Non-UTF8 BYTE_ARRAY maps
    to string too — `_deinterleave` always rebuilds strings."""
    ts_t = _ts_logical(el)
    if ts_t is not None:
        return ts_t
    conv = el.get(6)
    if conv == CONV_DATE:
        return pa.date32()
    if conv == CONV_INT_8:
        return pa.int8()
    if conv == CONV_INT_16:
        return pa.int16()
    if conv == CONV_DECIMAL:
        return pa.decimal128(el.get(8, 38), el.get(7, 0))
    return {T_BOOLEAN: pa.bool_(), T_INT32: pa.int32(),
            T_INT64: pa.int64(), T_FLOAT: pa.float32(),
            T_DOUBLE: pa.float64(), T_BYTE_ARRAY: pa.string(),
            T_FLBA: pa.string()}[el[1]]


def footer_schema(path: str) -> "dict[str, pa.DataType]":
    """Top-level column name -> Arrow type, derived ONLY from the footer
    SchemaElements (ptype + ConvertedType + group shape) — no page is
    decoded, so schema discovery over a directory costs one footer read
    instead of a full first-file decode. Reconstructs the group shapes
    the writer emits: 3-level LIST (element leaf or struct), MAP
    key_value, plain struct; a legacy 2-level repeated leaf also maps
    to list<leaf>."""
    buf = _map_file(path)
    assert buf[:4] == _MAGIC and buf[-4:] == _MAGIC, "not a parquet file"
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    schema = meta[2]
    pos = [1]

    def node() -> tuple[str, pa.DataType]:
        el = schema[pos[0]]
        pos[0] += 1
        name = el[4].decode()
        nch = el.get(5, 0)
        if nch == 0:
            leaf = _leaf_arrow_type(el)
            if el.get(3, 0) == REP_REPEATED:   # legacy 2-level list
                return name, pa.list_(leaf)
            return name, leaf
        conv = el.get(6)
        if conv == CONV_LIST:
            mid = schema[pos[0]]               # repeated 'list' group
            pos[0] += 1
            mch = mid.get(5, 0)
            if mch == 0:                       # repeated leaf (2-level)
                return name, pa.list_(_leaf_arrow_type(mid))
            fields = [node() for _ in range(mch)]
            if mch == 1:
                return name, pa.list_(fields[0][1])
            return name, pa.list_(pa.struct(
                [pa.field(n, t) for n, t in fields]))
        if conv == CONV_MAP:
            kv = schema[pos[0]]                # repeated key_value group
            pos[0] += 1
            fields = [node() for _ in range(kv.get(5, 0))]
            return name, pa.map_(fields[0][1], fields[1][1])
        fields = [node() for _ in range(nch)]
        return name, pa.struct([pa.field(n, t) for n, t in fields])

    out: dict[str, pa.DataType] = {}
    for _ in range(schema[0].get(5, len(schema) - 1)):
        n, t = node()
        out[n] = t
    return out


def _bloom_hashes(values, ptype: int) -> "np.ndarray":
    """XXH64 seed-0 hashes of PLAIN-encoded ``values`` per the format's
    BloomFilterHash XXHASH convention: INT32/INT64 little-endian fixed
    width, FLOAT/DOUBLE IEEE bytes, BYTE_ARRAY raw bytes (no length
    prefix)."""
    from .codecs import xxh
    if ptype in (T_INT32, T_INT64, T_FLOAT, T_DOUBLE):
        dt = {T_INT32: np.int32, T_INT64: np.int64,
              T_FLOAT: np.float32, T_DOUBLE: np.float64}[ptype]
        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            values = np.asarray(values)
        return xxh.xxh64(np.ascontiguousarray(values, dtype=dt))
    if ptype == T_BYTE_ARRAY:
        if not isinstance(values, (pa.Array, pa.ChunkedArray)):
            values = pa.array(
                [v.encode() if isinstance(v, str) else v
                 for v in values], pa.large_binary())
        return xxh.xxh64(values)
    raise ValueError(f"bloom filter unsupported for physical {ptype}")


def _bloom_sidecar(values, ptype: int, fpp: float = 0.01) -> bytes:
    """BloomFilterHeader (thrift compact) + SBBF bitset for one chunk's
    values — the blob written at ColumnMetaData.bloom_filter_offset.
    Sized from the chunk's distinct count at ``fpp``."""
    from .codecs import xxh
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        values = values.drop_null().unique()
        ndv = len(values)
    else:
        values = list(dict.fromkeys(values))
        ndv = len(values)
    nbytes = xxh.sbbf_size(max(ndv, 1), fpp)
    words = xxh.sbbf_build(_bloom_hashes(values, ptype), nbytes) \
        if ndv else np.zeros(nbytes // 4, np.uint32)
    empty = _CW().done()                   # unions: empty-struct member
    header = (_CW().i32(1, nbytes)
              .struct(2, _CW().struct(1, empty).done())   # BLOCK
              .struct(3, _CW().struct(1, empty).done())   # XXHASH
              .struct(4, _CW().struct(1, empty).done())   # UNCOMPRESSED
              ).done()
    return header + words.astype("<u4").tobytes()


def read_bloom_filter(path: str, column: str) -> "list[np.ndarray]":
    """Parse every row group's BloomFilterHeader + SBBF bitset for
    ``column`` (ColumnMetaData fields 14/15). Returns one uint32 word
    array per row group that carries a filter (empty list: none
    written). Conformant with parquet-java's writer — pinned by
    tests/test_bloom.py against Spark-written files."""
    buf = _map_file(path)
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    out: list[np.ndarray] = []
    for rg in meta[4]:
        for chunk in rg[1]:
            cm = chunk[3]
            if ".".join(s.decode() for s in cm[3]) != column:
                continue
            off = cm.get(14)
            if off is None:
                continue
            r = _CR(buf, off)
            hdr = r.struct()
            nbytes = hdr[1]
            words = np.frombuffer(buf, "<u4", nbytes // 4,
                                  offset=r.pos).copy()
            out.append(words)
    return out


def bloom_rg_multi(path: str, column: str, values
                   ) -> "dict[int, np.ndarray] | None":
    """Per-ROW-GROUP membership for MANY values in one footer parse:
    {rgi: bool[len(values)]} over the row groups that carry a bloom for
    ``column`` (row groups without one are absent — the caller must
    scan those). Returns None when NO row group has a filter. The SBBF
    check is vectorized over the value hashes, so an IN-list probe
    costs one mmap + one hash batch, not a parse per value."""
    from .codecs import xxh
    buf = _map_file(path)
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    elm = _walk_leaves(meta[2]).get(column)
    if elm is None:
        raise ValueError(f"{column!r} is not a column")
    h = _bloom_hashes(list(values), elm[1])
    out: dict[int, np.ndarray] = {}
    for rgi, rg in enumerate(meta[4]):
        for chunk in rg[1]:
            cm = chunk[3]
            if ".".join(s.decode() for s in cm[3]) != column:
                continue
            off = cm.get(14)
            if off is None:
                continue
            r = _CR(buf, off)
            hdr = r.struct()
            words = np.frombuffer(buf, "<u4", hdr[1] // 4, offset=r.pos)
            out[rgi] = xxh.sbbf_check(words, h)
    return out or None


def bloom_rg_survivors(path: str, column: str, value
                       ) -> "dict[int, bool] | None":
    """Single-value convenience over `bloom_rg_multi`."""
    got = bloom_rg_multi(path, column, [value])
    if got is None:
        return None
    return {rgi: bool(v[0]) for rgi, v in got.items()}


def bloom_might_contain(path: str, column: str, values) -> "np.ndarray":
    """Per-value membership across the file: True when ANY row group's
    bloom might contain the value (False = provably absent from the
    whole file). Metadata + sidecar read only — no page decode."""
    from .codecs import xxh
    buf = _map_file(path)
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    elm = _walk_leaves(meta[2]).get(column)
    if elm is None:
        raise ValueError(f"{column!r} is not a column")
    hashes = _bloom_hashes(values, elm[1])
    blooms = read_bloom_filter(path, column)
    if not blooms:
        raise ValueError(f"no bloom filter for {column!r}")
    got = np.zeros(len(hashes), bool)
    for words in blooms:
        got |= xxh.sbbf_check(words, hashes)
    return got


def read_page_index(path: str) -> dict[str, dict]:
    """Parse every chunk's OffsetIndex + ColumnIndex (when present).

    Returns {dotted column path: {"pages": [(offset, compressed_size,
    first_row), ...], "null_pages": [...], "mins": [...], "maxs": [...],
    "boundary_order": int, "null_counts": [...] | None}} with min/max
    decoded into python values per the physical type."""
    buf = _map_file(path)
    assert buf[:4] == _MAGIC and buf[-4:] == _MAGIC, "not a parquet file"
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    out: dict[str, dict] = {}
    rg_row_base = 0
    for rg in meta[4]:
        for chunk in rg[1]:
            cm = chunk[3]
            pathname = ".".join(seg.decode() for seg in cm[3])
            ent: dict = {}
            if 4 in chunk:                    # offset_index_offset
                oi = _CR(buf, chunk[4]).struct()
                # first_row_index is rg-relative in the file; surface
                # it file-absolute so multi-row-group entries chain
                ent["pages"] = [(pl[1], pl[2], rg_row_base + pl[3])
                                for pl in oi[1]]
            if 6 in chunk:                    # column_index_offset
                ci = _CR(buf, chunk[6]).struct()
                ptype = cm[1]
                ent["null_pages"] = ci[1]
                ent["mins"] = [None if np_ else _plain_scalar(b, ptype)
                               for np_, b in zip(ci[1], ci[2])]
                ent["maxs"] = [None if np_ else _plain_scalar(b, ptype)
                               for np_, b in zip(ci[1], ci[3])]
                ent["boundary_order"] = ci.get(4, BOUNDARY_UNORDERED)
                ent["null_counts"] = ci.get(5)
            if not ent:
                continue
            prev = out.get(pathname)
            if prev is None:
                out[pathname] = ent
            else:
                # one index pair per row group: append in row-group
                # order (page offsets and first_row are file-absolute);
                # the combined boundary_order downgrades unless both
                # sides agree
                for k in ("pages", "null_pages", "mins", "maxs",
                          "null_counts"):
                    if k in prev and k in ent and prev[k] is not None \
                            and ent[k] is not None:
                        prev[k] = prev[k] + ent[k]
                if prev.get("boundary_order") != ent.get("boundary_order"):
                    prev["boundary_order"] = BOUNDARY_UNORDERED
        rg_row_base += rg[3]
    return out


def _dictionary_page(buf, off: int, elm: dict, dcodec, utf8: bool):
    """The values of the dictionary page at ``off``."""
    r = _CR(buf, off)
    ph = r.struct()
    payload = buf[r.pos:r.pos + ph[3]]
    if dcodec is not None:
        payload = dcodec.decompress(payload, decompressed_size=ph[2],
                                    asbytes=True)
    return _decode_plain(payload, ph[7][1], elm[1], elm.get(2, 0), utf8)


def _decode_data_page(buf, off: int, elm: dict, uniq, dcodec,
                      utf8: bool = True) -> pa.Array:
    """One v1/v2 data page of a flat required/optional column -> its
    values, nulls preserved: PLAIN, dictionary and the DELTA/BSS
    encodings."""
    ptype = elm[1]
    optional = elm.get(3, 0) == REP_OPTIONAL
    r = _CR(buf, off)
    ph = r.struct()
    payload = buf[r.pos:r.pos + ph[3]]
    if dcodec is not None and ph[1] != PAGE_DATA_V2:
        payload = dcodec.decompress(payload, decompressed_size=ph[2],
                                    asbytes=True)
    if ph[1] == PAGE_DATA:
        dp = ph[5]
        nv, enc = dp[1], dp[2]
        if optional:
            dlen = int(np.frombuffer(payload[:4], np.uint32)[0])
            levels = rle.decode(payload[4:4 + dlen], {"bw": 1}, nv)
            valid = levels.astype(bool)
            payload = payload[4 + dlen:]
        else:
            valid = np.ones(nv, bool)
    elif ph[1] == PAGE_DATA_V2:
        dp = ph[8]
        nv, enc = dp[1], dp[4]
        rlen, dlen = dp.get(6, 0), dp.get(5, 0)
        if dlen:
            levels = rle.decode(payload[rlen:rlen + dlen], {"bw": 1}, nv)
            valid = levels.astype(bool)
        else:
            valid = np.ones(nv, bool)
        payload = payload[rlen + dlen:]
        if dcodec is not None and dp.get(7, True):
            payload = dcodec.decompress(
                payload, decompressed_size=ph[2] - rlen - dlen,
                asbytes=True)
    else:
        raise ValueError("unexpected page type in OffsetIndex")
    k = int(valid.sum())
    if enc in (ENC_PLAIN_DICTIONARY, ENC_RLE_DICTIONARY):
        bw = payload[0]
        codes = rle.decode(payload[1:], {"bw": int(bw)}, k)
        vals = uniq.take(pa.array(codes.astype(np.int64)))
    elif enc == ENC_PLAIN:
        vals = _decode_plain(payload, k, ptype, elm.get(2, 0), utf8)
    elif enc == ENC_DELTA_LENGTH_BA:
        vals = deltafmt.dlba_decode(payload, k)
    elif enc == ENC_DELTA_BINARY_PACKED:
        v, _ = deltafmt.dbp_decode(
            payload, 0, bits=32 if ptype == T_INT32 else 64)
        if v.size != k:
            raise ValueError(f"DBP count {v.size} != {k}")
        vals = pa.array(v)
    elif enc == ENC_DELTA_BA:
        vals = deltafmt.dba_decode(payload, k)
    elif enc == ENC_BYTE_STREAM_SPLIT:
        dt = {T_FLOAT: np.float32, T_DOUBLE: np.float64}[ptype]
        vals = pa.array(bss.unsplit_bytes(payload, k, dt))
    else:
        raise ValueError(f"encoding {enc} unsupported in pruned read")
    if utf8 and pa.types.is_large_binary(vals.type):
        vals = vals.cast(pa.large_string())
    if k < nv:
        ridx = np.cumsum(valid, dtype=np.int64) - 1
        vals = vals.take(pa.array(ridx, mask=~valid))
    return vals


def read_column_pruned(path: str, column: str, lo, hi
                       ) -> tuple[pa.Array, int, int]:
    """Decode ONLY the pages of ``column`` whose ColumnIndex [min,max]
    window intersects ``[lo, hi]`` — the format-level analogue of the
    engine's zone-map pruning (stats.py). Flat required/optional
    columns, PLAIN or dictionary pages (the shapes pyarrow writes with
    a page index).

    Returns ``(values, pages_read, pages_total)``: the concatenated
    decoded values of the selected pages (nulls preserved), so the
    caller can apply the exact predicate. Unselected pages are
    guaranteed by the index to contain no qualifying value."""
    if isinstance(lo, str):
        lo = lo.encode()
    if isinstance(hi, str):
        hi = hi.encode()
    buf = _map_file(path)
    flen = int(np.frombuffer(buf[-8:-4], np.uint32)[0])
    meta = _CR(buf, len(buf) - 8 - flen).struct()
    # full-dotted-path resolution (not bare leaf name): a nested leaf
    # sharing a flat column's name must not shadow the flat column
    elm = _walk_leaves(meta[2]).get(column)
    if elm is None:
        raise ValueError(f"{column!r} is not a flat column")
    ptype = elm[1]
    # (page, dict) work list per ROW GROUP: each row group has its own
    # index pair and its own dictionary page
    work: list[tuple[int, "pa.Array | None"]] = []
    n_pages_total = 0
    found = False
    for rg in meta[4]:
        for chunk in rg[1]:
            cm = chunk[3]
            if ".".join(s.decode() for s in cm[3]) != column:
                continue
            found = True
            if 4 not in chunk or 6 not in chunk:
                raise ValueError(f"no page index for column {column!r}")
            comp = cm.get(4, 0)
            dcodec = pa.Codec(_COMP_NAME[comp]) if comp else None
            oi = _CR(buf, chunk[4]).struct()
            ci = _CR(buf, chunk[6]).struct()
            pages = [(pl[1], pl[2], pl[3]) for pl in oi[1]]
            null_pages = ci[1]
            mins = [None if np_ else _plain_scalar(b, ptype)
                    for np_, b in zip(null_pages, ci[2])]
            maxs = [None if np_ else _plain_scalar(b, ptype)
                    for np_, b in zip(null_pages, ci[3])]
            n_pages_total += len(pages)
            uniq = (_dictionary_page(buf, cm[11], elm, dcodec, True)
                    if 11 in cm else None)
            for i, (off, csize, first_row) in enumerate(pages):
                if null_pages[i]:
                    continue
                if not (maxs[i] < lo or mins[i] > hi):
                    work.append((off, uniq, dcodec))
    if not found:
        raise ValueError(f"column {column!r} not found")
    got = [_decode_data_page(buf, off, elm, uniq, dcodec)
           for off, uniq, dcodec in work]
    if got:
        col = pa.concat_arrays([g.cast(got[0].type) for g in got])
    else:
        col = pa.array([], pa.int64() if ptype in (T_INT32, T_INT64)
                       else pa.large_string())
    return _apply_converted(col, elm), len(work), n_pages_total


_PTYPE_OF = {"BOOLEAN": T_BOOLEAN, "INT32": T_INT32, "INT64": T_INT64,
             "FLOAT": T_FLOAT, "DOUBLE": T_DOUBLE,
             "BYTE_ARRAY": T_BYTE_ARRAY, "FIXED_LEN_BYTE_ARRAY": T_FLBA}


def read_rows(path: str, column: str, rows) -> pa.Array:
    """The physical values of flat ``column`` at file row indices
    ``rows``, in ascending row order, decoding only the data pages that
    hold them (and the chunk's dictionary page when one is needed): the
    page headers are walked from the chunk start, and every other page
    is skipped unread. The footer is parsed by pyarrow. BYTE_ARRAY
    columns come back as strings when annotated UTF8, else binary."""
    import pyarrow.parquet as pq
    rows = np.unique(np.asarray(rows, np.int64))
    md = pq.ParquetFile(path).metadata
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    if column not in paths:
        raise ValueError(f"column {column!r} not found")
    j = paths.index(column)
    cs = md.schema.column(j)
    if cs.max_repetition_level:
        raise ValueError(f"{column!r} is not a flat column")
    elm = {1: _PTYPE_OF[cs.physical_type], 2: cs.length or 0,
           3: REP_OPTIONAL if cs.max_definition_level else REP_REQUIRED}
    utf8 = cs.logical_type.type == "STRING" or cs.converted_type == "UTF8"
    buf = _map_file(path)
    got = []
    base = 0
    for i in range(md.num_row_groups):
        n = md.row_group(i).num_rows
        want = rows[(rows >= base) & (rows < base + n)] - base
        base += n
        if not want.size:
            continue
        cc = md.row_group(i).column(j)
        dcodec = (None if cc.compression == "UNCOMPRESSED"
                  else pa.Codec(cc.compression.lower()))
        pos = (cc.dictionary_page_offset if cc.has_dictionary_page
               else cc.data_page_offset)
        end = pos + cc.total_compressed_size
        first, uniq = 0, None
        while pos < end and first <= want[-1]:
            r = _CR(buf, pos)
            ph = r.struct()
            if ph[1] == PAGE_DICTIONARY:
                uniq = _dictionary_page(buf, pos, elm, dcodec, utf8)
            elif ph[1] in (PAGE_DATA, PAGE_DATA_V2):
                nv = (ph[5] if ph[1] == PAGE_DATA else ph[8])[1]
                hit = want[(want >= first) & (want < first + nv)]
                if hit.size:
                    vals = _decode_data_page(buf, pos, elm, uniq, dcodec,
                                             utf8)
                    got.append(vals.take(pa.array(hit - first)))
                first += nv
            pos = r.pos + ph[3]
    if not got:
        return pa.array([], pa.large_string() if utf8 else pa.large_binary())
    return pa.concat_arrays(got)
