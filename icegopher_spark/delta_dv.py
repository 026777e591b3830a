"""Delta Lake deletion-vector decoding (delta.io PROTOCOL.md,
§ "Deletion Vectors" + § "Deletion Vector Descriptor Schema").

A Delta DV is the same byte format as an Iceberg V3 ``deletion-
vector-v1`` blob — Iceberg adopted Delta's layout verbatim — so the
roaring-bitmap machinery in :mod:`icegopher_spark.iceberg.puffin` is
reused here and the only Delta-specific parts are the *descriptor*
resolution (where the bytes live) and the Z85 string codec:

* descriptor: ``{storageType, pathOrInlineDv, offset?, sizeInBytes,
  cardinality}`` attached to an ``add`` action.
  - ``storageType='u'``: pathOrInlineDv = ``<random prefix><z85 uuid
    (20 chars)>``; the bytes live in
    ``<table>/<prefix>/deletion_vector_<uuid>.bin`` at ``offset``.
  - ``storageType='p'``: pathOrInlineDv is an absolute path.
  - ``storageType='i'``: pathOrInlineDv is the Z85-encoded blob body
    itself (``sizeInBytes`` bytes; Z85 zero-pads to 4-byte blocks,
    so decode then truncate).
* on-disk DV file: 1-byte format version (=1), then each stored DV at
  its ``offset``: ``dataSize (4 BE) | magic D1D33964 | roaring64
  portable | CRC-32(magic+vector) (4 BE)`` — byte-identical to
  ``puffin.dv_blob``'s framing, hence the direct reuse of
  ``decode_dv_blob``.
* Z85 (ZeroMQ spec 32/Z85): base-85, 4 bytes → 5 chars, big-endian,
  custom alphabet. NOT python's ``base64.b85*`` (RFC-1924 alphabet).

The reference engine is Iceberg-only (iceberg-go catalog.go:40-47);
this is beyond-reference interop surface for mixed Delta estates.
"""

from __future__ import annotations

import os
import uuid as _uuid

import numpy as np

from .iceberg.io import load_io
from .iceberg.puffin import DV_MAGIC, decode_dv_blob, deserialize_roaring64, dv_blob

__all__ = [
    "z85encode",
    "z85decode",
    "dv_store_path",
    "dv_job_spec",
    "decode_dv_spec",
    "decode_mask_payload",
    "read_dv_positions",
    "write_dv_file",
]

_Z85_CHARS = (
    "0123456789"
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

_DV_FILE_VERSION = 1


def z85encode(data: bytes) -> str:
    """Z85-encode, zero-padding to a 4-byte boundary (the protocol's
    codec pads on encode and truncates on decode — callers carry the
    true length out of band, e.g. ``sizeInBytes``)."""
    if len(data) % 4:
        data = data + b"\x00" * (4 - len(data) % 4)
    out = []
    for i in range(0, len(data), 4):
        word = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            word, rem = divmod(word, 85)
            chunk.append(_Z85_CHARS[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def z85decode(s: str) -> bytes:
    """Z85-decode; output length is a multiple of 4 (caller truncates
    to the out-of-band true length)."""
    if len(s) % 5:
        raise ValueError(f"Z85 string length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        word = 0
        for c in s[i : i + 5]:
            try:
                word = word * 85 + _Z85_INDEX[c]
            except KeyError:
                raise ValueError(f"invalid Z85 character {c!r}") from None
        if word > 0xFFFFFFFF:
            raise ValueError("Z85 block overflows 32 bits")
        out += word.to_bytes(4, "big")
    return bytes(out)


def dv_store_path(table_path: str, descriptor: dict) -> str:
    """Absolute path of an on-disk DV per the descriptor ('u' or 'p')."""
    st = descriptor["storageType"]
    poi = descriptor["pathOrInlineDv"]
    if st == "p":
        return poi
    if st == "u":
        # last 20 chars = Z85 uuid; anything before is a prefix dir
        if len(poi) < 20:
            raise ValueError(f"storageType 'u' pathOrInlineDv too short: {poi!r}")
        prefix, enc = poi[:-20], poi[-20:]
        u = _uuid.UUID(bytes=z85decode(enc)[:16])
        name = f"deletion_vector_{u}.bin"
        return os.path.join(table_path, prefix, name)
    raise ValueError(f"not an on-disk DV storageType: {st!r}")


def dv_job_spec(table_path: str, descriptor: dict) -> dict:
    """Resolve one add.deletionVector descriptor to a self-contained,
    JSON-serializable DECODE SPEC — absolute file coordinates or the
    inline body — WITHOUT decoding the bitmap.  This is the driver's
    whole share of the work: specs are metadata-scale (one small dict
    per file) and ship to executors, where :func:`decode_dv_spec`
    reads and explodes the bitmap.  Positions never pass through the
    driver, so a table with billions of deleted rows costs the driver
    the same as one with ten (the Iceberg face's posture,
    iceberg/table.py::_dv_positions_df)."""
    st = descriptor["storageType"]
    size = int(descriptor["sizeInBytes"])
    card = int(descriptor.get("cardinality", -1))
    if st == "i":
        return {
            "inline": descriptor["pathOrInlineDv"],
            "size": size,
            "cardinality": card,
        }
    if st in ("u", "p"):
        return {
            "file": dv_store_path(table_path, descriptor),
            "offset": int(descriptor.get("offset") or 0),
            "size": size,
            "cardinality": card,
        }
    raise NotImplementedError(
        f"Delta deletion vector storageType {st!r} not supported "
        "(known: 'u' relative file, 'p' absolute file, 'i' inline)"
    )


def decode_dv_spec(spec: dict) -> np.ndarray:
    """Deleted row positions (sorted uint64) for one decode spec —
    executor-side.

    Verifies every integrity handle the spec carries: file format
    version, dataSize vs sizeInBytes, magic, CRC, and cardinality —
    a wrong deletion vector silently resurrects or drops rows, so every
    mismatch fails the scan loudly."""
    size = int(spec["size"])
    if "inline" in spec:
        body = z85decode(spec["inline"])[:size]
        if body[:4] != DV_MAGIC:
            raise ValueError("inline deletion vector magic mismatch")
        pos = deserialize_roaring64(body, 4)
    else:
        path = spec["file"]
        with load_io(path).open_input(path) as f:
            version = f.read(1)
            if version != bytes([_DV_FILE_VERSION]):
                raise ValueError(
                    f"deletion vector file {path}: unsupported format "
                    f"version {version!r}"
                )
            f.seek(int(spec.get("offset") or 0))
            # dataSize (4 BE) + body (size) + CRC (4 BE): exactly the
            # Iceberg deletion-vector-v1 blob framing
            blob = f.read(4 + size + 4)
        pos = decode_dv_blob(blob)
    card = int(spec.get("cardinality", -1))
    if card >= 0 and len(pos) != card:
        raise ValueError(
            f"deletion vector cardinality mismatch: descriptor says "
            f"{card}, bitmap has {len(pos)}"
        )
    return pos


def decode_mask_payload(payload) -> np.ndarray:
    """Positions for one position-mask payload (executor-side).

    Payload forms (the second element of a ('exclude'|'keep', payload)
    mask):
      * {"dv": spec, "minus": spec?} — decode `dv`, subtract `minus`
        (a CDF DV-diff: newly-deleted positions = new − old);
      * {"positions": [...]} — literal positions (tests/small cases);
      * a numpy array / list — literal positions, driver-provided.
    """
    if isinstance(payload, dict):
        if "dv" in payload:
            pos = decode_dv_spec(payload["dv"])
            minus = payload.get("minus")
            if minus is not None:
                pos = np.setdiff1d(
                    pos, decode_dv_spec(minus), assume_unique=True
                )
            return pos
        return np.asarray(payload["positions"], dtype=np.uint64)
    return np.asarray(payload, dtype=np.uint64)


def mask_cardinality(payload) -> int:
    """Upper bound on a payload's position count WITHOUT decoding —
    drives the broadcast-vs-shuffle decision. -1 = unknown."""
    if isinstance(payload, dict):
        if "dv" in payload:
            return int(payload["dv"].get("cardinality", -1))
        return len(payload["positions"])
    return len(payload)


def read_dv_positions(table_path: str, descriptor: dict) -> np.ndarray:
    """Deleted row positions (sorted uint64) for one add.deletionVector
    — resolve + decode in one call, for callers that genuinely need
    the positions in-process (the DV-union write path runs this INSIDE
    its per-file applyInPandas group, never on the driver)."""
    return decode_dv_spec(dv_job_spec(table_path, descriptor))


def write_dv_file(
    table_path: str, positions, prefix: str = ""
) -> dict:
    """Write one on-disk DV file ('u' storage) and return its
    descriptor — used by fixtures/tests and the export plane. Layout
    per the protocol: 1-byte version, then the framed blob."""
    blob, card = dv_blob(positions)
    u = _uuid.uuid4()
    path = os.path.join(table_path, prefix, f"deletion_vector_{u}.bin")
    load_io(path).write(path, bytes([_DV_FILE_VERSION]) + blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85encode(u.bytes),
        "offset": 1,  # after the 1-byte format version
        # sizeInBytes = magic+vector (the blob minus its 4-byte length
        # prefix and 4-byte CRC), matching delta-spark
        "sizeInBytes": len(blob) - 8,
        "cardinality": card,
    }
