"""Minimal Avro Object Container File (OCF) reader/writer, pure Python.

Implements the subset of Avro 1.x needed for Iceberg manifest lists and
manifest files (per the public Avro spec): records, unions, arrays,
maps, fixed, and all primitives; null/deflate codecs; zigzag-varint
encoding. It depends on no third-party Avro library.

Manifests are read on every scan plan (reference manifest.go:206-296),
so decoding is on the planning path: the manifests of a 2,000-entry
table hold ~130k varints. ``read_ocf`` therefore compiles the file's
schema once into a tree of closures, each decoding one value from the
decompressed block by integer offset, so no per-value schema dispatch
or per-byte stream call remains. The writer stays a schema-walking
encoder: commits write one manifest at a time.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, BinaryIO

MAGIC = b"Obj\x01"


# --------------------------------------------------------------------------
# Primitive codecs
# --------------------------------------------------------------------------


def _read_varint(buf: BinaryIO) -> int:
    shift = 0
    result = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("unexpected end of Avro data")
        byte = b[0]
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return result


def read_long(buf: BinaryIO) -> int:
    n = _read_varint(buf)
    return (n >> 1) ^ -(n & 1)  # zigzag decode


def write_long(out: io.BytesIO, value: int) -> None:
    # refuse out-of-int64 rather than mask: the old "clamp" silently
    # encoded 2**80 as 0 and corrupted the file undetectably
    if not (-(1 << 63) <= value < (1 << 63)):
        raise OverflowError(f"avro long out of int64 range: {value}")
    n = (value << 1) ^ (value >> 63) if value < 0 else value << 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            break


def read_bytes(buf: BinaryIO) -> bytes:
    n = read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("short read")
    return data


def write_bytes(out: io.BytesIO, value: bytes) -> None:
    write_long(out, len(value))
    out.write(value)


# --------------------------------------------------------------------------
# Compiled decode: a schema becomes a tree of (data, pos) -> (value, pos)
# readers over one in-memory block
# --------------------------------------------------------------------------


def _read_block_count(buf: BinaryIO) -> int:
    """Avro block count: negative means |count| items preceded by a
    byte-size prefix (read and discarded). Stream form, for the OCF
    header and ``count_ocf_rows``."""
    count = read_long(buf)
    if count < 0:
        count = -count
        read_long(buf)  # block byte size, unused
    return count


# Past the end of a block, ``data[pos]`` raises IndexError; ``read_ocf``
# turns that into EOFError once per block instead of bounds-checking
# every byte. Reads of a known length (bytes, fixed, float, double) are
# slices or ``unpack_from`` and check their bounds themselves.


def _long_at(data: bytes, pos: int) -> tuple[int, int]:
    b = data[pos]
    if b < 0x80:  # one-byte varint: field ids, counts, small values
        return (b >> 1) ^ -(b & 1), pos + 1
    n = b & 0x7F
    shift = 7
    while True:
        pos += 1
        b = data[pos]
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return (n >> 1) ^ -(n & 1), pos + 1
        shift += 7


def _bytes_at(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _long_at(data, pos)
    end = pos + n
    if n < 0 or end > len(data):
        raise EOFError("short read")
    return data[pos:end], end


def _string_at(data: bytes, pos: int) -> tuple[str, int]:
    raw, pos = _bytes_at(data, pos)
    return raw.decode("utf-8"), pos


def _block_count_at(data: bytes, pos: int) -> tuple[int, int]:
    count, pos = _long_at(data, pos)
    if count < 0:
        count = -count
        _, pos = _long_at(data, pos)  # block byte size, unused
    return count, pos


def _null_at(data: bytes, pos: int) -> tuple[None, int]:
    return None, pos


def _boolean_at(data: bytes, pos: int) -> tuple[bool, int]:
    return data[pos] != 0, pos + 1


def _unpacker(fmt: str, size: int, name: str):
    unpack = struct.Struct(fmt).unpack_from

    def read(data: bytes, pos: int) -> tuple[float, int]:
        end = pos + size
        if end > len(data):
            raise EOFError(f"short read in avro {name}")
        return unpack(data, pos)[0], end

    return read


_float_at = _unpacker("<f", 4, "float")
_double_at = _unpacker("<d", 8, "double")

_PRIMITIVE_READERS = {
    "null": _null_at,
    "boolean": _boolean_at,
    "int": _long_at,
    "long": _long_at,
    "float": _float_at,
    "double": _double_at,
    "bytes": _bytes_at,
    "string": _string_at,
}


def _compile(schema: Any):
    """Compile a parsed Avro schema into a reader ``(data, pos) ->
    (value, pos)``. Schema dispatch happens here, once per file, not
    once per value."""
    if isinstance(schema, list):
        return _compile_union(schema)
    t = schema if isinstance(schema, str) else schema["type"]
    if t in _PRIMITIVE_READERS:
        return _PRIMITIVE_READERS[t]
    if t == "fixed":
        size = schema["size"]

        def read_fixed(data: bytes, pos: int) -> tuple[bytes, int]:
            end = pos + size
            if end > len(data):
                raise EOFError("short read in avro fixed")
            return data[pos:end], end

        return read_fixed
    if t == "enum":
        symbols = tuple(schema["symbols"])

        def read_enum(data: bytes, pos: int) -> tuple[str, int]:
            sym, pos = _long_at(data, pos)
            if not 0 <= sym < len(symbols):
                raise ValueError(f"avro enum index {sym} out of range")
            return symbols[sym], pos

        return read_enum
    if t == "record":
        fields = tuple((f["name"], _compile(f["type"])) for f in schema["fields"])
        def read_record(data: bytes, pos: int) -> tuple[dict, int]:
            out = {}
            for name, read in fields:
                out[name], pos = read(data, pos)
            return out, pos

        return read_record
    if t == "array":
        read_item = _compile(schema["items"])

        def read_array(data: bytes, pos: int) -> tuple[list, int]:
            out = []
            append = out.append
            while True:
                count, pos = _block_count_at(data, pos)
                if count == 0:
                    return out, pos
                for _ in range(count):
                    item, pos = read_item(data, pos)
                    append(item)

        return read_array
    if t == "map":
        read_value = _compile(schema["values"])

        def read_map(data: bytes, pos: int) -> tuple[dict, int]:
            out: dict[str, Any] = {}
            while True:
                count, pos = _block_count_at(data, pos)
                if count == 0:
                    return out, pos
                for _ in range(count):
                    k, pos = _string_at(data, pos)
                    out[k], pos = read_value(data, pos)

        return read_map

    def read_unsupported(data: bytes, pos: int):
        # raised on the first value, not at compile time: a schema may
        # name a type that no record of the file ever reaches
        raise ValueError(f"unsupported Avro type: {t!r}")

    return read_unsupported


def _compile_union(branches: list):
    """Union: zigzag branch index, then the branch's value. A corrupt
    index must fail loudly — Python's negative indexing would silently
    pick a branch from the END and misalign the whole stream."""
    readers = tuple(_compile(b) for b in branches)

    def read_union(data: bytes, pos: int):
        idx, pos = _long_at(data, pos)
        if not 0 <= idx < len(readers):
            raise ValueError(f"avro union branch {idx} out of range")
        return readers[idx](data, pos)

    if len(branches) != 2 or branches[0] != "null":
        return read_union
    read_value = readers[1]

    def read_optional(data: bytes, pos: int):
        # [null, X], the shape of every optional Iceberg field: the
        # index is the single byte 0x00 (null) or 0x02 (X)
        b = data[pos]
        if b == 0:
            return None, pos + 1
        if b == 2:
            return read_value(data, pos + 1)
        return read_union(data, pos)

    return read_optional


# --------------------------------------------------------------------------
# Schema-driven encode
# --------------------------------------------------------------------------


def _union_index(schema: list, value: Any) -> int:
    """Pick the union branch for a value; Iceberg manifests only use
    [null, X] unions, so the logic is simple."""
    for i, branch in enumerate(schema):
        bt = branch if isinstance(branch, str) else branch.get("type")
        if value is None and bt == "null":
            return i
        if value is not None and bt != "null":
            return i
    raise ValueError(f"no union branch for {value!r} in {schema!r}")


def _encode(schema: Any, value: Any, out: io.BytesIO) -> None:
    if isinstance(schema, list):
        idx = _union_index(schema, value)
        write_long(out, idx)
        _encode(schema[idx], value, out)
        return
    t = schema if isinstance(schema, str) else schema["type"]

    if t == "null":
        return
    if t == "boolean":
        if value is None:
            # a missing required boolean must crash like long/string do
            # (int(None)/None.encode), not silently encode false — the
            # .get-null corruption class from the r5 review (r8 wave 4)
            raise TypeError("required avro boolean is None")
        out.write(b"\x01" if value else b"\x00")
        return
    if t in ("int", "long"):
        write_long(out, int(value))
        return
    if t == "float":
        out.write(struct.pack("<f", value))
        return
    if t == "double":
        out.write(struct.pack("<d", value))
        return
    if t == "bytes":
        write_bytes(out, bytes(value))
        return
    if t == "string":
        write_bytes(out, value.encode("utf-8"))
        return
    if t == "fixed":
        out.write(bytes(value))
        return
    if t == "enum":
        write_long(out, schema["symbols"].index(value))
        return
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], value.get(f["name"]), out)
        return
    if t == "array":
        items = list(value or ())
        if items:
            write_long(out, len(items))
            for item in items:
                _encode(schema["items"], item, out)
        write_long(out, 0)
        return
    if t == "map":
        entries = dict(value or {})
        if entries:
            write_long(out, len(entries))
            for k, v in entries.items():
                write_bytes(out, k.encode("utf-8"))
                _encode(schema["values"], v, out)
        write_long(out, 0)
        return
    raise ValueError(f"unsupported Avro type: {t!r}")


# --------------------------------------------------------------------------
# OCF container
# --------------------------------------------------------------------------


def read_ocf(data: bytes) -> tuple[dict, dict[str, bytes], list[dict]]:
    """Decode an OCF → (schema, file metadata, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        count = _read_block_count(buf)
        if count == 0:
            break
        for _ in range(count):
            k = read_bytes(buf).decode("utf-8")
            meta[k] = read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    read_record = _compile(schema)
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)

    records: list[dict] = []
    append = records.append
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, os.SEEK_CUR)
        n_records = read_long(buf)
        block_len = read_long(buf)
        if n_records < 0 or block_len < 0:
            raise ValueError(
                f"corrupt Avro OCF block header: n_records={n_records} "
                f"block_len={block_len}"
            )
        block = buf.read(block_len)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        pos = 0
        try:
            for _ in range(n_records):
                rec, pos = read_record(block, pos)
                append(rec)
        except IndexError:
            raise EOFError("unexpected end of Avro data block") from None
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, meta, records


def count_ocf_rows(path: str) -> int:
    """Row count from OCF block headers alone — payload blocks are
    seeked over, never decompressed or decoded, so commit-time stats for
    executor-written Avro data files stay metadata-only on the driver."""
    total = 0
    with open(path, "rb") as fh:
        if fh.read(4) != MAGIC:
            raise ValueError("not an Avro object container file")
        while True:
            count = _read_block_count(fh)
            if count == 0:
                break
            for _ in range(count):
                read_bytes(fh)  # key
                read_bytes(fh)  # value
        sync = fh.read(16)
        while True:
            head = fh.read(1)
            if not head:
                break
            fh.seek(-1, os.SEEK_CUR)
            n_records = read_long(fh)
            block_len = read_long(fh)
            # a single flipped varint bit can decode negative: trusting
            # it would undercount (negative total +=) or seek BACKWARD
            # into already-read bytes and false-match the sync
            if n_records < 0 or block_len < 0:
                raise ValueError(f"corrupt Avro OCF block header in {path}")
            fh.seek(block_len, os.SEEK_CUR)  # skip payload, never decode
            # seeking past EOF is legal, so a blind seek would turn a
            # truncated file into a silent undercount — instead read the
            # 16-byte trailer and demand the header's sync marker
            if fh.read(16) != sync:
                raise ValueError(f"truncated or corrupt Avro OCF: {path}")
            total += n_records
    return total


def write_ocf(
    schema: dict | str,
    records: list[dict],
    metadata: dict[str, bytes] | None = None,
    codec: str = "deflate",
    sync: bytes | None = None,
) -> bytes:
    """Encode records into an OCF byte string.

    ``sync`` defaults to a fresh random 16-byte marker per file, as the
    Avro spec requires — a constant all-zero marker would let the
    truncation check in ``count_ocf_rows`` false-pass on zero runs and
    confuse external sync-scanning splittable readers."""
    if sync is None:
        sync = os.urandom(16)
    if isinstance(schema, str):
        schema_obj = json.loads(schema)
        schema_str = schema
    else:
        schema_obj = schema
        schema_str = json.dumps(schema)
    out = io.BytesIO()
    out.write(MAGIC)
    meta: dict[str, bytes] = {
        "avro.schema": schema_str.encode("utf-8"),
        "avro.codec": codec.encode(),
    }
    for k, v in (metadata or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode("utf-8")
    write_long(out, len(meta))
    for k, v in meta.items():
        write_bytes(out, k.encode("utf-8"))
        write_bytes(out, v)
    write_long(out, 0)
    out.write(sync)

    body = io.BytesIO()
    for rec in records:
        _encode(schema_obj, rec, body)
    block = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = comp.compress(block) + comp.flush()
    elif codec != "null":
        raise ValueError(f"unsupported codec {codec!r}")
    write_long(out, len(records))
    write_long(out, len(block))
    out.write(block)
    out.write(sync)
    return out.getvalue()
