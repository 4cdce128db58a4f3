"""UpsertBatch V1 binary wire format — the serialized batch the reference
uses for client→server data transfer, Kafka transport, and redo logging.

Reference layout (memstore/common/upsert_batch.go:120-146):

    [uint32] magic/version 0xFEED0001
    [int32]  num_of_rows            [uint16] num_of_columns
    <14 reserved bytes>             [uint32] arrival_time
    [uint32] column_offset_0..x+1   [uint32] enum_dict_length_0..x
    [uint32] reserved_0..x          [uint32] column_data_type_0..x
    [uint16] column_id_0..x         [uint8]  column_mode_0..x
    per column: (optional null bitvector) | (8-byte-aligned value vector)

All little-endian, byte-aligned; the column mode byte packs
``mode | update_mode << 3`` (upsert_batch_header.go:161-173). Column modes
(vector_party.go:30-41): 0 = all default/null, 1 = all present,
2 = has null vector. Update modes (upsert_batch_builder.go:30-43):
0 overwrite-not-null, 1 force, 2 add, 3 min, 4 max — these map 1:1 onto
``streaming.upsert.UpdateMode``.

The writer is byte-exact with the reference's ``ToByteArray``
(upsert_batch_builder.go:406-469) — verified against the golden buffers in
the reference's own upsert_batch_builder_test.go — and the parser mirrors
``NewUpsertBatch``/``readUpsertBatch`` (upsert_batch.go:437-555).

All fourteen scalar types — including the variable-length GeoShape,
which the format carries as a Go-type column: a 4-aligned local-offset
vector then per-row ``uint32 numPolygons (uint32 numPoints,
float32 lat/lng pairs)*`` payloads (GeoShapeGo.Write,
data_value.go:562-589; written by the builder at
upsert_batch_builder.go:271-279) — plus the thirteen array variants
(``Int32[]`` etc., ArrayValue payloads with local offset vectors —
data_value.go:615-729) are supported. Go-type columns never carry a
null bitvector even in HasNullVector mode; a null row is encoded as
offset equality (upsert_batch_builder.go:119-121, upsert_batch.go:46-49).

``upsert_batch_to_df`` bridges a parsed batch into the Spark upsert path:
column ids resolve to names through a metastore schema document and the
wire update modes become ``apply_upsert`` modes, so bytes built by a
reference client ingest directly into the hot store.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import Any

MAGIC_V1 = 0xFEED0001

# data type codes (memstore/common/data_type.go:44-74): the low 16 bits
# carry the width in bits, bits 16..23 the ordinal, bit 24 the array flag
DATA_TYPES = {
    "Bool": 0x00000001, "Int8": 0x00010008, "Uint8": 0x00020008,
    "Int16": 0x00030010, "Uint16": 0x00040010, "Int32": 0x00050020,
    "Uint32": 0x00060020, "Float32": 0x00070020, "SmallEnum": 0x00080008,
    "BigEnum": 0x00090010, "UUID": 0x000A0080, "GeoPoint": 0x000B0040,
    "GeoShape": 0x000C0000, "Int64": 0x000D0040,
    # array types: bit 24 set, same item ordinal/width (data_type.go:60-74)
    "Bool[]": 0x01000001, "Int8[]": 0x01010008, "Uint8[]": 0x01020008,
    "Int16[]": 0x01030010, "Uint16[]": 0x01040010, "Int32[]": 0x01050020,
    "Uint32[]": 0x01060020, "Float32[]": 0x01070020,
    "SmallEnum[]": 0x01080008, "BigEnum[]": 0x01090010,
    "UUID[]": 0x010A0080, "GeoPoint[]": 0x010B0040, "Int64[]": 0x010D0040,
}
TYPE_NAMES = {v: k for k, v in DATA_TYPES.items()}

# column modes (vector_party.go:30-41)
ALL_VALUES_DEFAULT, ALL_VALUES_PRESENT, HAS_NULL_VECTOR = 0, 1, 2

# update modes (upsert_batch_builder.go:30-43) → streaming.upsert.UpdateMode
UPDATE_MODE_NAMES = ("overwrite", "force", "add", "min", "max")

_PACK = {  # struct format per fixed-width type (bits >= 8)
    "Int8": "<b", "Uint8": "<B", "SmallEnum": "<B",
    "Int16": "<h", "Uint16": "<H", "BigEnum": "<H",
    "Int32": "<i", "Uint32": "<I", "Float32": "<f", "Int64": "<q",
}


def _bits(type_code: int) -> int:
    return type_code & 0xFFFF


def _align(off: int, n: int) -> int:
    return (off + n - 1) // n * n


def geo_shape_from_wkt(s: str) -> list[list[tuple[float, float]]]:
    """WKT-ish polygon string → polygons of (lat, lng) float pairs,
    mirroring GeoShapeFromString (data_type.go:482-512): accepts
    ``POLYGON ((lng lat, lng lat), (...))`` case-insensitively, validates
    lng ∈ [-180, 180] and lat ∈ [-90, 90], and stores points LAT-FIRST
    like GeoPointGo (WKT itself is lng-first)."""
    import re

    body = s.strip().lower().strip("polygon() ")
    polygons = []
    for poly_str in re.split(r"\),\s*\(", body):
        polygon = []
        for pair in poly_str.split(","):
            parts = pair.split()
            if len(parts) != 2:
                raise ValueError(f"invalid point format {pair!r}")
            lng, lat = float(parts[0]), float(parts[1])
            if not -180 <= lng <= 180:
                raise ValueError(f"invalid longitude {parts[0]}")
            if not -90 <= lat <= 90:
                raise ValueError(f"invalid latitude {parts[1]}")
            polygon.append((lat, lng))
        polygons.append(polygon)
    return polygons


def geo_shape_to_wkt(polygons) -> str:
    """Polygons of (lat, lng) pairs → the WKT-ish string
    ``GeoShapeFromString`` round-trips (lng-first, shortest lossless
    float32 rendering — the reference's %.4f display form would move
    coordinates ~10 m)."""
    from aresdb_spark.functions.hll_wire import _format_float32_g

    return "Polygon(%s)" % ",".join(
        "(%s)" % ",".join(f"{_format_float32_g(p[1])} "
                          f"{_format_float32_g(p[0])}" for p in poly)
        for poly in polygons)


def _shape_polygons(v) -> list[list[tuple[float, float]]]:
    """Normalize a builder/bridge GeoShape value: a WKT string, or nested
    sequences of (lat, lng) pairs / {lat, long} dicts (the Spark-side
    ``array<array<struct<lat,long>>>`` rendering)."""
    if isinstance(v, str):
        return geo_shape_from_wkt(v)
    out = []
    for poly in v:
        ring = []
        for p in poly:
            if isinstance(p, dict):
                ring.append((float(p["lat"]), float(p["long"])))
            else:
                ring.append((float(p[0]), float(p[1])))
        out.append(ring)
    return out


def _shape_ser_bytes(polygons) -> int:
    """GeoShapeGo.GetSerBytes (data_value.go:516-528): uint32 numPolygons
    + per polygon uint32 numPoints + 8 bytes per point. Always a multiple
    of 4, so the reference's trailing WritePadding(…, 4) adds nothing."""
    return 4 + sum(4 + 8 * len(p) for p in polygons)


def _array_ser_bytes(item_type: str, length: int) -> int:
    """ArrayValue.GetSerBytes (data_value.go:599-605, 790-800): uint32
    count + bit/byte-packed items + validity bits, rounded to 8 bytes;
    an empty (but non-null) array still occupies 8 bytes."""
    if length == 0:
        return 8
    bits = _bits(DATA_TYPES[item_type])
    return (4 * 8 + (bits * length + 7) // 8 * 8 + (length + 7) // 8 * 8
            + 63) // 64 * 8


def _write_scalar(w: "_BitWriter", type_name: str, v: Any) -> None:
    if type_name == "Bool":
        w.append_bit(bool(v))
    elif type_name == "UUID":
        w.append_bytes(struct.pack("<QQ", v[0], v[1]))
    elif type_name == "GeoPoint":
        w.append_bytes(struct.pack("<ff", v[0], v[1]))
    else:
        w.append_bytes(struct.pack(_PACK[type_name], v))


# --------------------------------------------------------------------------
# writer (upsert_batch_builder.go:327-469)
# --------------------------------------------------------------------------

@dataclass
class _ColumnBuilder:
    column_id: int
    type_name: str
    update_mode: int = 0
    values: list[Any] = field(default_factory=list)

    @property
    def n_valid(self) -> int:
        return sum(v is not None for v in self.values)

    def mode(self) -> int:
        if self.n_valid == 0:
            return ALL_VALUES_DEFAULT
        if self.n_valid == len(self.values):
            return ALL_VALUES_PRESENT
        return HAS_NULL_VECTOR


class _BitWriter:
    """The reference BufferWriter: bit-granular appends into a fixed
    buffer, with byte/word alignment helpers."""

    def __init__(self, size: int):
        self.buf = bytearray(size)
        self.bit = 0  # absolute bit offset

    @property
    def byte(self) -> int:
        return self.bit // 8

    def align(self, n: int) -> None:
        self.bit = _align(_align(self.bit, 8) // 8, n) * 8

    def skip_bits(self, n: int) -> None:
        self.bit += n

    def append_bit(self, v: bool) -> None:
        if v:
            self.buf[self.bit // 8] |= 1 << (self.bit % 8)
        self.bit += 1

    def append_bytes(self, b: bytes) -> None:
        assert self.bit % 8 == 0
        off = self.bit // 8
        self.buf[off:off + len(b)] = b
        self.bit += len(b) * 8

    def write_at(self, byte_off: int, b: bytes) -> None:
        self.buf[byte_off:byte_off + len(b)] = b


class UpsertBatchBuilder:
    """Builds a V1 UpsertBatch buffer, byte-exact with the reference
    builder. ``arrival_time`` is explicit (the reference stamps
    ``utils.Now()``; passing it keeps builds deterministic)."""

    def __init__(self, arrival_time: int = 0):
        self.arrival_time = int(arrival_time)
        self.num_rows = 0
        self.columns: list[_ColumnBuilder] = []

    def add_column(self, column_id: int, type_name: str,
                   update_mode: int | str = 0) -> None:
        if type_name not in DATA_TYPES:
            raise ValueError(f"unknown data type {type_name!r}")
        if isinstance(update_mode, str):
            update_mode = UPDATE_MODE_NAMES.index(update_mode)
        self.columns.append(_ColumnBuilder(
            column_id, type_name, int(update_mode),
            [None] * self.num_rows))

    def add_row(self) -> None:
        self.num_rows += 1
        for c in self.columns:
            c.values.append(None)

    def set_value(self, row: int, col: int, value: Any) -> None:
        self.columns[col].values[row] = value

    # -- serialization ------------------------------------------------------

    def _column_sizes(self, start: int) -> list[tuple[int, int]]:
        """(start_offset, end_offset) per column, replicating
        CalculateBufferSize (upsert_batch_builder.go:112-151)."""
        spans = []
        off = start
        for c in self.columns:
            s = off
            mode = c.mode()
            if mode != ALL_VALUES_DEFAULT:
                # Go-type columns (GeoShape) never carry a null vector,
                # even in HasNullVector mode (CalculateBufferSize's
                # `if !isGoType`, upsert_batch_builder.go:119-121)
                if mode == HAS_NULL_VECTOR and c.type_name != "GeoShape":
                    off += (len(c.values) + 7) // 8
                if c.type_name == "GeoShape":
                    off = _align(off, 4)
                    off += (len(c.values) + 1) * 4  # offset vector
                    off = _align(off, 8)
                    off += sum(_shape_ser_bytes(_shape_polygons(v))
                               for v in c.values if v is not None)
                elif c.type_name.endswith("[]"):
                    off = _align(off, 4)
                    off += (len(c.values) + 1) * 4  # offset vector
                    off = _align(off, 8)
                    item = c.type_name[:-2]
                    off += sum(_array_ser_bytes(item, len(v))
                               for v in c.values if v is not None)
                else:
                    off = _align(off, 8)
                    off += (_bits(DATA_TYPES[c.type_name])
                            * len(c.values) + 7) // 8
            spans.append((s, off))
        return spans

    def to_byte_array(self) -> bytes:
        n_cols = len(self.columns)
        header_size = 4 + 24 + ((n_cols + 1) * 4 + n_cols * 4 + n_cols * 4
                                + n_cols * 4 + n_cols * 2 + n_cols)
        spans = self._column_sizes(header_size)
        size = _align(spans[-1][1] if spans else header_size, 8)
        w = _BitWriter(size)
        w.append_bytes(struct.pack("<I", MAGIC_V1))
        w.append_bytes(struct.pack("<i", self.num_rows))
        w.append_bytes(struct.pack("<H", n_cols))
        w.skip_bits(14 * 8)
        w.append_bytes(struct.pack("<I", self.arrival_time & 0xFFFFFFFF))

        # column header block at byte 28
        off = 28
        for i, (s, _) in enumerate(spans):
            w.write_at(off + i * 4, struct.pack("<I", s))
        if spans:
            w.write_at(off + n_cols * 4, struct.pack("<I", spans[-1][1]))
        off += (n_cols + 1) * 4
        off += n_cols * 4  # enum dict lengths (zero)
        off += n_cols * 4  # reserved
        for i, c in enumerate(self.columns):
            w.write_at(off + i * 4, struct.pack("<I", DATA_TYPES[c.type_name]))
        off += n_cols * 4
        for i, c in enumerate(self.columns):
            w.write_at(off + i * 2, struct.pack("<H", c.column_id))
        off += n_cols * 2
        for i, c in enumerate(self.columns):
            w.write_at(off + i, bytes([c.mode() | (c.update_mode << 3)]))

        # column data (AppendToBuffer, upsert_batch_builder.go:153-305)
        for c, (s, _) in zip(self.columns, spans):
            mode = c.mode()
            if mode == ALL_VALUES_DEFAULT:
                continue
            w.bit = s * 8
            if mode == HAS_NULL_VECTOR and c.type_name != "GeoShape":
                for v in c.values:
                    w.append_bit(v is not None)
            if c.type_name == "GeoShape":
                self._write_goshape_column(w, c)
                continue
            if c.type_name.endswith("[]"):
                self._write_array_column(w, c)
                continue
            w.align(8)
            if self._write_fixed_vectorized(w, c):
                continue
            bits = _bits(DATA_TYPES[c.type_name])
            for v in c.values:
                if v is None:
                    w.skip_bits(bits)
                else:
                    _write_scalar(w, c.type_name, v)
        return bytes(w.buf)

    _NP_DTYPES = {"Int8": "int8", "Uint8": "uint8", "SmallEnum": "uint8",
                  "Int16": "int16", "Uint16": "uint16", "BigEnum": "uint16",
                  "Int32": "int32", "Uint32": "uint32", "Float32": "float32",
                  "Int64": "int64"}

    @staticmethod
    def _write_fixed_vectorized(w: "_BitWriter", c: _ColumnBuilder) -> bool:
        """Single-memcpy fast path for byte-width scalar columns (and
        bit-packed Bool): identical bytes to the per-value loop — null
        slots are zero-filled, exactly what skip_bits leaves behind."""
        try:
            import numpy as np
        except ImportError:  # pragma: no cover
            return False
        if c.type_name == "Bool":
            bits = np.fromiter(
                (bool(v) for v in c.values), dtype=np.uint8,
                count=len(c.values))
            packed = np.packbits(bits, bitorder="little").tobytes()
            w.buf[w.byte:w.byte + len(packed)] = packed
            w.bit += len(c.values)
            return True
        np_dt = UpsertBatchBuilder._NP_DTYPES.get(c.type_name)
        if np_dt is None:  # UUID / GeoPoint keep the loop
            return False
        # unsigned views for negative-free packing of Uint* values is
        # handled by numpy's modular cast; None → 0 (skip_bits parity)
        arr = np.array([0 if v is None else v for v in c.values],
                       dtype=np_dt)
        raw = arr.tobytes()
        w.buf[w.byte:w.byte + len(raw)] = raw
        w.bit += len(raw) * 8
        return True

    @staticmethod
    def _write_goshape_column(w: "_BitWriter", c: _ColumnBuilder) -> None:
        """Go-type (GeoShape) column: 4-aligned local-offset vector, then
        8-aligned value vector of GeoShapeGo payloads — uint32 numPolygons,
        per polygon uint32 numPoints + (lat, lng) float32 pairs
        (GeoShapeGo.Write, data_value.go:562-589; builder loop
        upsert_batch_builder.go:271-279). Null rows repeat the offset."""
        w.align(4)
        off_vec = w.byte
        w.skip_bits((len(c.values) + 1) * 4 * 8)
        w.align(8)
        cur = 0
        for r, v in enumerate(c.values):
            w.write_at(off_vec + r * 4, struct.pack("<I", cur))
            if v is None:
                continue
            polygons = _shape_polygons(v)
            w.append_bytes(struct.pack("<I", len(polygons)))
            for poly in polygons:
                w.append_bytes(struct.pack("<I", len(poly)))
                for lat, lng in poly:
                    w.append_bytes(struct.pack("<ff", lat, lng))
            cur += _shape_ser_bytes(polygons)
        w.write_at(off_vec + len(c.values) * 4, struct.pack("<I", cur))

    @staticmethod
    def _write_array_column(w: "_BitWriter", c: _ColumnBuilder) -> None:
        """Variable-length array column: 4-aligned local-offset vector,
        8-aligned value vector of ArrayValue payloads (count, items,
        validity bits, 8-padded — data_value.go:615-729)."""
        item = c.type_name[:-2]
        item_bits = _bits(DATA_TYPES[item])
        w.align(4)
        off_vec = w.byte
        w.skip_bits((len(c.values) + 1) * 4 * 8)
        w.align(8)
        cur = 0
        for r, v in enumerate(c.values):
            w.write_at(off_vec + r * 4, struct.pack("<I", cur))
            if v is None:
                continue
            w.append_bytes(struct.pack("<I", len(v)))
            for item_v in v:
                if item_v is None:
                    w.skip_bits(item_bits)
                else:
                    _write_scalar(w, item, item_v)
            w.align(1)
            for item_v in v:
                w.append_bit(item_v is not None)
            w.align(8)
            cur += _array_ser_bytes(item, len(v))
        w.write_at(off_vec + len(c.values) * 4, struct.pack("<I", cur))


# --------------------------------------------------------------------------
# parser (upsert_batch.go:437-555)
# --------------------------------------------------------------------------

@dataclass
class UpsertColumn:
    column_id: int
    type_name: str
    mode: int
    update_mode: int
    values: list[Any]  # one entry per row, None = null/default

    @property
    def update_mode_name(self) -> str:
        return UPDATE_MODE_NAMES[self.update_mode]


@dataclass
class UpsertBatch:
    num_rows: int
    arrival_time: int
    columns: list[UpsertColumn]

    def column_by_id(self, column_id: int) -> UpsertColumn:
        for c in self.columns:
            if c.column_id == column_id:
                return c
        raise KeyError(column_id)

    def rows(self) -> list[tuple]:
        return list(zip(*(c.values for c in self.columns))) \
            if self.columns else [()] * self.num_rows


def _read_bit(buf: bytes, base_bit: int, i: int) -> bool:
    return bool(buf[(base_bit + i) // 8] & (1 << ((base_bit + i) % 8)))


def _read_scalar(buf: bytes, boff: int, type_name: str) -> Any:
    if type_name == "UUID":
        return struct.unpack_from("<QQ", buf, boff)
    if type_name == "GeoPoint":
        return struct.unpack_from("<ff", buf, boff)
    return struct.unpack_from(_PACK[type_name], buf, boff)[0]


_NP_READ_DTYPES = {"Int8": "int8", "Uint8": "uint8", "SmallEnum": "uint8",
                   "Int16": "<i2", "Uint16": "<u2", "BigEnum": "<u2",
                   "Int32": "<i4", "Uint32": "<u4", "Float32": "<f4",
                   "Int64": "<i8"}


def _read_fixed_vectorized(buf: bytes, type_name: str, num_rows: int,
                           val_base: int, null_base_bit: "int | None"):
    """Whole-column read for byte-width scalars and bit-packed Bool:
    one frombuffer/unpackbits instead of per-row struct.unpack. Returns
    None for types that keep the scalar loop (UUID, GeoPoint)."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover
        return None
    if num_rows == 0:
        return []
    if type_name == "Bool":
        nbytes = (num_rows + 7) // 8
        vals = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, val_base),
            bitorder="little")[:num_rows].astype(bool).tolist()
    else:
        dt = _NP_READ_DTYPES.get(type_name)
        if dt is None:
            return None
        vals = np.frombuffer(buf, dt, num_rows, val_base).tolist()
    if null_base_bit is not None:
        nbytes = (num_rows + 7) // 8
        mask = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, null_base_bit // 8),
            bitorder="little")[:num_rows]
        vals = [v if m else None for v, m in zip(vals, mask)]
    return vals


def _read_geo_shape(buf: bytes, base: int) -> list[list[tuple[float, float]]]:
    """GeoShapeGo payload (GeoShapeGo.Read, data_value.go:531-559):
    uint32 numPolygons, per polygon uint32 numPoints + (lat, lng)
    float32 pairs."""
    (n_poly,) = struct.unpack_from("<I", buf, base)
    base += 4
    polygons = []
    for _ in range(n_poly):
        (n_pts,) = struct.unpack_from("<I", buf, base)
        base += 4
        pts = struct.unpack_from(f"<{n_pts * 2}f", buf, base)
        base += n_pts * 8
        polygons.append([(pts[j], pts[j + 1])
                         for j in range(0, n_pts * 2, 2)])
    return polygons


def _read_array_value(buf: bytes, base: int, item: str) -> list:
    """ArrayValue payload (data_value.go:615-729): uint32 count, packed
    items, then validity bits starting at the next byte boundary."""
    (count,) = struct.unpack_from("<I", buf, base)
    item_bits = _bits(DATA_TYPES[item])
    items_base_bit = (base + 4) * 8
    valid_base_bit = _align(items_base_bit + item_bits * count, 8)
    out = []
    for j in range(count):
        if not _read_bit(buf, valid_base_bit, j):
            out.append(None)
        elif item == "Bool":
            out.append(_read_bit(buf, items_base_bit, j))
        else:
            out.append(_read_scalar(buf, items_base_bit // 8
                                    + j * item_bits // 8, item))
    return out


def parse_upsert_batch(buffer: bytes) -> UpsertBatch:
    """Deserialize a V1 buffer (without the redo log's 4-byte size
    prefix), mirroring readUpsertBatch's offset arithmetic exactly.
    Truncated/corrupt buffers raise ValueError (never struct.error /
    IndexError), so every 'undecodable input' handler can rely on it."""
    try:
        return _parse_upsert_batch(buffer)
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt upsert batch: {e}") from e


def _parse_upsert_batch(buffer: bytes) -> UpsertBatch:
    (magic,) = struct.unpack_from("<I", buffer, 0)
    if magic != MAGIC_V1:
        raise ValueError(f"unsupported upsert batch version {magic:#x}")
    (num_rows,) = struct.unpack_from("<i", buffer, 4)
    if num_rows < 0:
        raise ValueError("number of rows should be >= 0")
    (n_cols,) = struct.unpack_from("<H", buffer, 8)
    (arrival,) = struct.unpack_from("<I", buffer, 24)

    off = 28
    offsets = struct.unpack_from(f"<{n_cols + 1}I", buffer, off)
    off += (n_cols + 1) * 4
    off += n_cols * 4 + n_cols * 4  # enum dict lengths + reserved
    type_codes = struct.unpack_from(f"<{n_cols}I", buffer, off)
    off += n_cols * 4
    ids = struct.unpack_from(f"<{n_cols}H", buffer, off)
    off += n_cols * 2
    flags = buffer[off:off + n_cols]

    cols = []
    for i in range(n_cols):
        type_name = TYPE_NAMES.get(type_codes[i])
        if type_name is None:
            raise ValueError(f"unknown data type code {type_codes[i]:#x}")
        mode = flags[i] & 0x07
        update_mode = (flags[i] >> 3) & 0x07
        bits = _bits(type_codes[i])
        cur = offsets[i]
        null_base_bit = None
        if mode == HAS_NULL_VECTOR and type_name != "GeoShape":
            # Go-type columns carry no null vector; nulls are offset
            # equality (readUpsertBatch's `if !isGoType`, upsert_batch.go:515)
            null_base_bit = cur * 8
            cur += _align(num_rows, 8) // 8
        values: list[Any] = [None] * num_rows
        if mode != ALL_VALUES_DEFAULT and type_name == "GeoShape":
            off_vec = _align(cur, 4)
            row_offs = struct.unpack_from(f"<{num_rows + 1}I", buffer, off_vec)
            val_base = _align(off_vec + (num_rows + 1) * 4, 8)
            for r in range(num_rows):
                if row_offs[r] == row_offs[r + 1]:
                    continue  # null shape (ReadGoValue, upsert_batch.go:46-49)
                values[r] = _read_geo_shape(buffer, val_base + row_offs[r])
        elif mode != ALL_VALUES_DEFAULT and type_name.endswith("[]"):
            off_vec = _align(cur, 4)
            row_offs = struct.unpack_from(f"<{num_rows + 1}I", buffer, off_vec)
            val_base = _align(off_vec + (num_rows + 1) * 4, 8)
            item = type_name[:-2]
            for r in range(num_rows):
                if row_offs[r] == row_offs[r + 1]:
                    continue  # null array (offset equality, upsert_batch.go:73-82)
                values[r] = _read_array_value(buffer, val_base + row_offs[r],
                                              item)
        elif mode != ALL_VALUES_DEFAULT:
            val_base_bit = _align(cur, 8) * 8
            fast = _read_fixed_vectorized(buffer, type_name, num_rows,
                                          val_base_bit // 8, null_base_bit)
            if fast is not None:
                values = fast
            else:
                for r in range(num_rows):
                    if null_base_bit is not None and \
                            not _read_bit(buffer, null_base_bit, r):
                        continue
                    if type_name == "Bool":
                        values[r] = _read_bit(buffer, val_base_bit, r)
                        continue
                    boff = val_base_bit // 8 + r * bits // 8
                    values[r] = _read_scalar(buffer, boff, type_name)
        cols.append(UpsertColumn(ids[i], type_name, mode, update_mode, values))
    return UpsertBatch(num_rows, arrival, cols)


# --------------------------------------------------------------------------
# redo-log framing (redolog/file_redolog_manager.go:144-170, 270-300)
# --------------------------------------------------------------------------

REDO_LOG_MAGIC = 0xADDAFEED  # UpsertHeader, file_redolog_manager.go:27


def write_redo_log(batches: list[bytes]) -> bytes:
    """A redo log file: the 0xADDAFEED magic header
    (file_redolog_manager.go:120), then each batch with a 4-byte
    little-endian size prefix (AppendToRedoLog)."""
    out = bytearray(struct.pack("<I", REDO_LOG_MAGIC))
    for b in batches:
        out += struct.pack("<I", len(b))
        out += b
    return bytes(out)


def iter_redo_log(data: bytes):
    """Yield the raw batch buffers from a redo log byte string. The
    magic header is validated first — a mismatch means the whole file is
    corrupt and recovery must not guess (the reference crashes the
    server there, file_redolog_manager.go:262-270); a truncated TAIL is
    recoverable and stops iteration exactly like the reference's reader
    (:277-300 truncates the file there)."""
    if len(data) < 4 or struct.unpack_from("<I", data, 0)[0] != REDO_LOG_MAGIC:
        raise ValueError(
            f"invalid redo log magic header (want {REDO_LOG_MAGIC:#x})")
    off = 4
    while off + 4 <= len(data):
        (size,) = struct.unpack_from("<I", data, off)
        if off + 4 + size > len(data):
            break  # truncated tail — recovery stops here
        yield bytes(data[off + 4:off + 4 + size])
        off += 4 + size


# --------------------------------------------------------------------------
# Spark bridge
# --------------------------------------------------------------------------

def _spark_type(type_name: str) -> str:
    """Wire-side Spark dtype: enums travel as dictionary ids (the
    metastore map is the single source of truth)."""
    from aresdb_spark.metastore import spark_type_for

    return spark_type_for(type_name, enum_ids=True)


def _wire_to_bridge_scalar(type_name: str, v):
    """Parsed wire value → bridge (Spark-facing) value: UUID/GeoPoint
    tuples render as strings, everything else passes through."""
    if v is None:
        return None
    if type_name == "UUID":
        # the reference renders UUIDs dashed lowercase
        # (ConvertToHumanReadable, memstore/common/data_value.go:284-292)
        s = f"{v[0]:016x}{v[1]:016x}"
        return f"{s[:8]}-{s[8:12]}-{s[12:16]}-{s[16:20]}-{s[20:]}"
    if type_name == "GeoPoint":
        # shortest round-trip float32 rendering — %g's 6 significant
        # digits would truncate coordinates (~10 m at city longitudes)
        from aresdb_spark.functions.hll_wire import _format_float32_g
        return f"point({_format_float32_g(v[0])} {_format_float32_g(v[1])})"
    if type_name == "GeoShape":
        # the metastore maps GeoShape → string: shapes travel Spark-side
        # as the WKT form GeoShapeFromString accepts (lng-first)
        return geo_shape_to_wkt(v)
    return v


def _wire_to_bridge(type_name: str, v):
    if v is None:
        return None
    if type_name.endswith("[]"):
        return [_wire_to_bridge_scalar(type_name[:-2], x) for x in v]
    return _wire_to_bridge_scalar(type_name, v)


def _bridge_to_wire_scalar(type_name: str, v):
    """Inverse of _wire_to_bridge_scalar: the string forms the decoder
    emits (and users naturally hold) convert back to builder values."""
    if v is None:
        return None
    if type_name == "UUID" and isinstance(v, str):
        s = v.replace("-", "")
        return (int(s[:16], 16), int(s[16:32], 16))
    if type_name == "GeoPoint" and isinstance(v, str):
        body = v.strip().lower()
        if body.startswith("point"):
            body = body[5:].strip().lstrip("(").rstrip(")")
        parts = body.replace(",", " ").split()
        return (float(parts[0]), float(parts[1]))
    if type_name == "GeoShape":
        return _shape_polygons(v)  # WKT string or nested lat/long lists
    return v


def upsert_batch_to_df(spark, buffer: "bytes | UpsertBatch",
                       schema_doc: dict):
    """Decode a wire batch into ``(DataFrame, update_modes)`` ready for
    ``streaming.upsert.apply_upsert``: column ids resolve to names via a
    metastore table document (api/data_handler.go:58-83 does the same
    schema lookup server-side), and each column's wire update mode maps
    to its UpdateMode name. Unknown column ids error like the reference's
    ingestion path. An already-parsed ``UpsertBatch`` is accepted so
    callers that need batch metadata don't parse twice."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    batch = buffer if isinstance(buffer, UpsertBatch) \
        else parse_upsert_batch(buffer)
    schema_cols = schema_doc.get("columns") or []
    fields, modes, keep = [], {}, []
    for c in sorted(batch.columns, key=lambda c: c.column_id):
        if c.column_id >= len(schema_cols):
            raise ValueError(f"column id {c.column_id} not in schema "
                             f"{schema_doc.get('name')!r}")
        if schema_cols[c.column_id].get("deleted"):
            continue  # tombstoned columns are ignored on ingest
        name = schema_cols[c.column_id]["name"]
        keep.append(c)
        modes[name] = c.update_mode_name
        fields.append(T.StructField(
            name, T._parse_datatype_string(_spark_type(c.type_name))))

    # built column by column as an Arrow table: it plans as a local
    # relation with a byte estimate, so the store write that follows is
    # plan-sized (a frame from a row list is RDD-backed and sizes as
    # Long.MaxValue, landing one file per partition)
    schema = to_arrow_schema(T.StructType(fields))
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array([_wire_to_bridge(c.type_name, v) for v in c.values],
                  type=f.type) for c, f in zip(keep, schema)],
        schema=schema)), modes


def encode_upsert_batch_stream(df, schema_doc: dict, arrival_time: int,
                               batch_rows: int = 10_000,
                               update_modes: dict[str, "int | str"]
                               | None = None,
                               enum_dicts: dict[str, list[str]]
                               | None = None):
    """The client/export side: serialize a DataFrame into wire batches —
    one binary blob per ``batch_rows`` rows per partition, emitted as a
    single-column ``value binary`` DataFrame ready for a Kafka sink or
    the data handler. Executor-side via ``mapInPandas`` (the encoder is
    the distributed analog of the reference Go client's
    UpsertBatchBuilder loop), so export scales with partitions.

    Columns map to ids by position in ``schema_doc`` (deleted columns
    are skipped and absent ones omitted); timestamps convert to the wire's
    Uint32 epoch seconds. Enum columns holding strings need
    ``enum_dicts`` (name → case list, e.g. from
    ``SchemaStore.get_enum_cases``) to translate to wire ids;
    out-of-dictionary strings encode as NULL."""
    import pandas as pd
    from pyspark.sql import functions as F

    schema_cols = schema_doc.get("columns") or []
    id_by_name = {c["name"]: i for i, c in enumerate(schema_cols)
                  if not c.get("deleted")}
    type_by_name = {c["name"]: c["type"] for c in schema_cols}
    cols = [c for c in df.columns if c in id_by_name]
    modes = update_modes or {}
    dicts = {c: {case: i for i, case in enumerate(v)}
             for c, v in (enum_dicts or {}).items()}

    for c in cols:  # wire time columns are epoch seconds
        if dict(df.dtypes)[c].startswith("timestamp"):
            df = df.withColumn(c, F.unix_timestamp(F.col(c)))
    df = df.select(*cols)

    def conv_column(c, vals):
        """One pass over a column's values → builder value list (None
        for nulls); vectorized per column instead of per-cell .iloc.
        UUID/GeoPoint strings convert back to wire tuples, and NaN
        inside numeric arrays (how Arrow/pandas renders null elements)
        becomes None."""
        tname = type_by_name[c]
        is_arr = tname.endswith("[]")
        item = tname[:-2] if is_arr else tname
        d = dicts.get(c)

        def item_val(x):
            if x is None or (isinstance(x, float) and x != x):
                return None
            if d is not None and isinstance(x, str):
                return d.get(x)  # enum array element: string → id
            if item == "Bool":
                return bool(x)
            if item in _PACK and _PACK[item] != "<f" and \
                    isinstance(x, float):
                # a None element promotes int arrays to float in pandas;
                # surviving elements come back as floats — re-integerize
                return int(x)
            return _bridge_to_wire_scalar(item, x)

        out = []
        for v in vals:
            if v is None or (isinstance(v, float) and v != v):
                out.append(None)
            elif d is not None and isinstance(v, str) and not is_arr:
                out.append(d.get(v))  # out-of-dict → NULL
            elif is_arr:
                out.append([item_val(x) for x in v])
            elif tname == "Bool":
                out.append(bool(v))
            elif tname in ("UUID", "GeoPoint", "GeoShape"):
                out.append(_bridge_to_wire_scalar(tname, v))
            elif tname != "Float32" and isinstance(v, (int, float)):
                out.append(int(v))
            else:
                out.append(v)
        return out

    def encode(iterator):
        for pdf in iterator:
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo:lo + batch_rows]
                b = UpsertBatchBuilder(arrival_time=arrival_time)
                b.num_rows = len(chunk)
                for c in cols:
                    b.add_column(id_by_name[c], type_by_name[c],
                                 modes.get(c, 0))
                    b.columns[-1].values = conv_column(
                        c, chunk[c].tolist())
                yield pd.DataFrame(
                    {"value": [bytearray(b.to_byte_array())]})

    return df.mapInPandas(encode, schema="value binary")


def decode_upsert_batch_stream(raw, schema_doc: dict,
                               value_col: str = "value"):
    """Distributed decoder for a Kafka-shaped stream/DataFrame whose
    ``value`` column carries UpsertBatch V1 bytes (the reference's actual
    Kafka payload — redolog/kafka_redolog_manager.go consumes the same
    frames). Each blob expands to its typed rows via ``mapInPandas``
    (Arrow-batched, runs on executors — no driver collect, so a
    1000-executor cluster decodes partitions independently). Undecodable
    blobs are dropped like the reference's decoder error path.

    Column order/ids come from ``schema_doc`` so the output schema is
    stable even when batches omit trailing columns (absent columns read
    as NULL)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema_cols = schema_doc.get("columns") or []
    names = [c["name"] for c in schema_cols if not c.get("deleted")]
    id_by_name = {c["name"]: i for i, c in enumerate(schema_cols)}
    fields = [T.StructField(c["name"], T._parse_datatype_string(
        _spark_type(c["type"])))
        for c in schema_cols if not c.get("deleted")]
    out_schema = T.StructType(fields)

    def decode(iterator):
        for pdf in iterator:
            out: dict[str, list] = {n: [] for n in names}
            for blob in pdf[value_col]:
                if blob is None:
                    continue
                try:
                    ub = parse_upsert_batch(bytes(blob))
                except (ValueError, NotImplementedError):
                    continue  # skip undecodable, like the reference
                cols_by_id = {c.column_id: c for c in ub.columns}
                for n in names:
                    c = cols_by_id.get(id_by_name[n])
                    if c is None:
                        out[n].extend([None] * ub.num_rows)
                    elif c.type_name in ("UUID", "GeoPoint", "GeoShape") \
                            or c.type_name.endswith("[]"):
                        # bridge conversion: the output schema is
                        # string/array-typed, never raw tuples
                        out[n].extend(_wire_to_bridge(c.type_name, v)
                                      for v in c.values)
                    else:
                        out[n].extend(c.values)
            yield pd.DataFrame(out, columns=names)

    return raw.mapInPandas(decode, schema=out_schema)
