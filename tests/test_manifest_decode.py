"""The compiled Avro reader and the manifest decode memo.

The reader is checked against an independent encoder written here from
the Avro spec, which can produce what ``write_ocf`` never writes:
multi-branch unions, arrays and maps split over several blocks, and
negative (byte-size-prefixed) block counts. The memo is checked for
hits on equal bytes, misses on changed bytes, isolation of the objects
it hands out, and its cap, which must bound memory for wide tables too."""

from __future__ import annotations

import io
import struct
import tracemalloc

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from icegopher_spark.iceberg import manifests as M
from icegopher_spark.iceberg.avro_io import read_long, read_ocf, write_long, write_ocf
from icegopher_spark.iceberg.manifests import (
    DataFile,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    ManifestFile,
    decode_cache_stats,
    fetch_entries,
    read_manifest_entries,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)

PRIMITIVES = ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]


def _long(v: int) -> bytes:
    out = io.BytesIO()
    write_long(out, v)
    return out.getvalue()


def _str(v: str) -> bytes:
    raw = v.encode("utf-8")
    return _long(len(raw)) + raw


# -- schemas ----------------------------------------------------------------

_fixed = st.integers(0, 6).map(lambda n: {"type": "fixed", "name": "fx", "size": n})
_enum = st.lists(st.text("abc", min_size=1, max_size=3), min_size=1, max_size=4, unique=True).map(
    lambda syms: {"type": "enum", "name": "en", "symbols": syms}
)


def _record(types: list) -> dict:
    return {
        "type": "record",
        "name": "r",
        "fields": [{"name": f"f{i}", "type": t} for i, t in enumerate(types)],
    }


def _compound(children):
    non_union = children.filter(lambda t: not isinstance(t, list) and t != "null")
    return st.one_of(
        st.lists(children, max_size=4).map(_record),
        children.map(lambda t: {"type": "array", "items": t}),
        children.map(lambda t: {"type": "map", "values": t}),
        non_union.map(lambda t: ["null", t]),
        st.tuples(
            st.lists(st.sampled_from(PRIMITIVES), min_size=2, max_size=4, unique=True),
            st.lists(non_union.filter(lambda t: isinstance(t, dict)), max_size=1),
        ).map(lambda p: p[0] + p[1]),
    )


schemas = st.recursive(
    st.sampled_from(PRIMITIVES) | _fixed | _enum, _compound, max_leaves=12
).map(lambda t: _record([t, "long"]))


# -- values, each drawn with its spec encoding ------------------------------


@st.composite
def _blocked(draw, parts: list[bytes]) -> bytes:
    """Items split into blocks of random size, each with a plain or a
    negative (byte-size-prefixed) count, then the 0 terminator."""
    out = []
    i = 0
    while i < len(parts):
        n = draw(st.integers(1, len(parts) - i))
        body = b"".join(parts[i : i + n])
        if draw(st.booleans()):
            out.append(_long(-n) + _long(len(body)) + body)
        else:
            out.append(_long(n) + body)
        i += n
    return b"".join(out) + _long(0)


def encoded(schema) -> st.SearchStrategy:
    """Strategy of (encoding, decoded value) pairs for ``schema``."""
    if isinstance(schema, list):
        return st.one_of(
            [
                encoded(b).map(lambda ev, i=i: (_long(i) + ev[0], ev[1]))
                for i, b in enumerate(schema)
            ]
        )
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return st.just((b"", None))
    if t == "boolean":
        return st.booleans().map(lambda v: (b"\x01" if v else b"\x00", v))
    if t == "int":
        return st.integers(-(2**31), 2**31 - 1).map(lambda v: (_long(v), v))
    if t == "long":
        return st.integers(-(2**63), 2**63 - 1).map(lambda v: (_long(v), v))
    if t == "float":
        return st.floats(width=32, allow_nan=False).map(lambda v: (struct.pack("<f", v), v))
    if t == "double":
        return st.floats(allow_nan=False).map(lambda v: (struct.pack("<d", v), v))
    if t == "bytes":
        return st.binary(max_size=12).map(lambda v: (_long(len(v)) + v, v))
    if t == "string":
        return st.text(max_size=8).map(lambda v: (_str(v), v))
    if t == "fixed":
        n = schema["size"]
        return st.binary(min_size=n, max_size=n).map(lambda v: (v, v))
    if t == "enum":
        syms = schema["symbols"]
        return st.integers(0, len(syms) - 1).map(lambda i: (_long(i), syms[i]))
    if t == "record":
        names = [f["name"] for f in schema["fields"]]
        return st.tuples(*[encoded(f["type"]) for f in schema["fields"]]).map(
            lambda parts: (b"".join(p[0] for p in parts), dict(zip(names, (p[1] for p in parts))))
        )
    if t == "array":
        return st.lists(encoded(schema["items"]), max_size=5).flatmap(
            lambda items: _blocked([e for e, _ in items]).map(
                lambda enc: (enc, [v for _, v in items])
            )
        )
    if t == "map":
        return st.dictionaries(st.text(max_size=4), encoded(schema["values"]), max_size=4).flatmap(
            lambda d: _blocked([_str(k) + e for k, (e, _) in d.items()]).map(
                lambda enc: (enc, {k: v for k, (_, v) in d.items()})
            )
        )
    raise AssertionError(t)


@st.composite
def ocf_files(draw):
    """(file bytes, schema, records): the header comes from write_ocf,
    the records from the spec encoder, split over 1-3 blocks."""
    schema = draw(schemas)
    recs = draw(st.lists(encoded(schema), max_size=6))
    sync = draw(st.binary(min_size=16, max_size=16))
    head = write_ocf(schema, [], codec="null", sync=sync)
    blocks = []
    i = 0
    while i < len(recs):
        n = draw(st.integers(1, len(recs) - i))
        body = b"".join(e for e, _ in recs[i : i + n])
        blocks.append(_long(n) + _long(len(body)) + body + sync)
        i += n
    return head + b"".join(blocks), schema, [v for _, v in recs]


@settings(max_examples=150, deadline=None)
@given(ocf_files())
def test_compiled_reader_matches_spec_encoding(case):
    data, schema, records = case
    got_schema, _, got = read_ocf(data)
    assert got_schema == schema
    assert got == records


def _writer_encodable(schema) -> bool:
    """write_ocf picks the first non-null union branch for any non-null
    value, so it round-trips only [null, X] unions."""
    if isinstance(schema, list):
        return len(schema) == 2 and schema[0] == "null" and _writer_encodable(schema[1])
    if isinstance(schema, str):
        return True
    t = schema["type"]
    if t == "record":
        return all(_writer_encodable(f["type"]) for f in schema["fields"])
    if t == "array":
        return _writer_encodable(schema["items"])
    if t == "map":
        return _writer_encodable(schema["values"])
    return True


@settings(max_examples=150, deadline=None)
@given(
    schemas.filter(_writer_encodable).flatmap(
        lambda s: st.tuples(st.just(s), st.lists(encoded(s).map(lambda ev: ev[1]), max_size=6))
    ),
    st.sampled_from(["null", "deflate"]),
)
def test_write_read_roundtrip_random_schemas(case, codec):
    schema, records = case
    _, _, got = read_ocf(write_ocf(schema, records, codec=codec))
    assert got == records


def test_truncated_block_raises_eof():
    """Every strict prefix of a block, framed as a whole block, runs
    off its end: that is EOFError, never IndexError or a short record."""
    schema = _record(
        ["long", "string", {"type": "fixed", "name": "f", "size": 3}, "double", "boolean",
         ["null", "long"], {"type": "array", "items": "int"}, "float"]
    )
    recs = [
        {"f0": 300 * i, "f1": "é" * i, "f2": b"abc", "f3": 1.5, "f4": True,
         "f5": i or None, "f6": list(range(i)), "f7": 0.25}
        for i in range(3)
    ]
    sync = b"S" * 16
    empty = write_ocf(schema, [], codec="null", sync=sync)
    assert empty.endswith(b"\x00\x00" + sync)  # one empty block
    head = empty[:-18]
    body = write_ocf(schema, recs, codec="null", sync=sync)[len(head) :]
    buf = io.BytesIO(body)  # n_records, block_len, payload, sync
    assert read_long(buf) == len(recs)
    payload = buf.read(read_long(buf))
    assert read_ocf(head + body)[2] == recs
    for cut in range(len(payload)):
        part = payload[:cut]
        framed = head + _long(len(recs)) + _long(len(part)) + part + sync
        with pytest.raises(EOFError):
            read_ocf(framed)
    # a file cut inside its block fails the same way
    with pytest.raises(EOFError):
        read_ocf(head + body[: len(body) // 2])


# -- decode memo ------------------------------------------------------------

PARTITION_FIELDS = [{"name": "flag", "type": ["null", "string"], "field-id": 1000}]


def _manifest(tag: str, n: int, **df_kw) -> bytes:
    entries = [
        ManifestEntry(
            ManifestEntryStatus.ADDED,
            None,
            DataFile(
                file_path=f"/data/{tag}-{i}.parquet",
                record_count=10,
                partition={"flag": tag},
                value_counts={1: 10},
                lower_bounds={1: struct.pack("<q", i)},
                split_offsets=[4],
                equality_ids=[1],
                **df_kw,
            ),
        )
        for i in range(n)
    ]
    return write_manifest(entries, PARTITION_FIELDS)


# memo weight of one _manifest record: value_counts, lower_bounds,
# split_offsets and equality_ids hold one item each
W = M._RECORD_ITEMS + 4


@pytest.fixture
def memo(monkeypatch):
    m = M._DecodeMemo(M.DECODE_MEMO_MAX_ITEMS)
    monkeypatch.setattr(M, "_DECODE_MEMO", m)
    return m


def test_memo_hits_on_equal_bytes_and_isolates_callers(memo):
    data = _manifest("A", 2)
    first = read_manifest_entries(data)
    assert decode_cache_stats()["misses"] == 1
    df = first[0].data_file
    df.partition["flag"] = "Z"
    df.split_offsets.append(99)
    df.equality_ids.clear()
    df.value_counts[1] = -1
    df.first_row_id = 1234
    # a fresh bytes object with equal content hits
    again = read_manifest_entries(bytes(bytearray(data)))
    s = decode_cache_stats()
    assert (s["hits"], s["misses"], s["files"], s["items"]) == (1, 1, 1, 2 * W)
    df2 = again[0].data_file
    assert df2.partition == {"flag": "A"}
    assert df2.split_offsets == [4]
    assert df2.equality_ids == [1]
    assert df2.value_counts == {1: 10}
    assert df2.first_row_id is None
    assert df2 is not df


def test_memo_inheritance_does_not_leak(memo):
    data = _manifest("A", 3)
    m = ManifestFile(manifest_path="m", sequence_number=5, added_snapshot_id=7, first_row_id=100)
    inherited = fetch_entries(m, data)
    assert [e.data_file.first_row_id for e in inherited] == [100, 110, 120]
    assert [e.sequence_number for e in inherited] == [5, 5, 5]
    raw = read_manifest_entries(data)
    assert [e.data_file.first_row_id for e in raw] == [None] * 3
    assert [e.sequence_number for e in raw] == [None] * 3
    assert decode_cache_stats()["hits"] == 1


def test_memo_misses_and_raises_on_changed_bytes(memo):
    data = _manifest("A", 1)
    read_manifest_entries(data)
    flipped = data[:-1] + bytes([data[-1] ^ 0xFF])  # last byte of the sync marker
    with pytest.raises(ValueError, match="sync marker"):
        read_manifest_entries(flipped)
    with pytest.raises(ValueError, match="sync marker"):
        read_manifest_entries(flipped)  # a failed decode is never inserted
    s = decode_cache_stats()
    assert (s["hits"], s["misses"], s["files"]) == (0, 3, 1)
    read_manifest_entries(data)
    assert decode_cache_stats()["hits"] == 1


def test_memo_covers_manifest_lists(memo):
    data = write_manifest_list(
        [ManifestFile(manifest_path="/m1.avro", content=ManifestContent.DATA, added_files_count=2)]
    )
    a = read_manifest_list(data)
    a[0].added_files_count = 9
    b = read_manifest_list(data)
    assert b[0].added_files_count == 2
    assert decode_cache_stats()["hits"] == 1


def test_memo_cap_evicts_least_recently_used(monkeypatch):
    memo = M._DecodeMemo(7 * W)
    monkeypatch.setattr(M, "_DECODE_MEMO", memo)
    a, b, c = (_manifest(t, 3) for t in "ABC")
    read_manifest_entries(a)
    read_manifest_entries(b)
    read_manifest_entries(a)  # a is now the most recent
    read_manifest_entries(c)  # 9 records > 7: evicts b
    s = decode_cache_stats()
    assert (s["evictions"], s["files"], s["items"]) == (1, 2, 6 * W)
    read_manifest_entries(a)
    assert decode_cache_stats()["hits"] == 2
    read_manifest_entries(b)
    assert decode_cache_stats()["misses"] == 4
    # a file larger than the whole cap is decoded but never held
    big = _manifest("D", 8)
    assert len(read_manifest_entries(big)) == 8
    assert decode_cache_stats()["items"] == 6 * W
    assert big not in memo._records


# Bytes the memo may hold per item of weight, keys included. Measured
# at 200-235 B for manifest entries of 1 to 100 columns on CPython 3.11.
BYTES_PER_ITEM = 256


def _wide_manifest(tag: str, n: int, ncols: int) -> bytearray:
    cols = range(1, ncols + 1)
    entries = [
        ManifestEntry(
            ManifestEntryStatus.ADDED,
            1,
            DataFile(
                file_path=f"/warehouse/db/wide/data/flag={tag}/00000-{i}-{tag}-00001.parquet",
                record_count=10**6 + i,
                file_size_in_bytes=10**8 + i,
                partition={"flag": tag},
                column_sizes={c: 10**5 + c for c in cols},
                value_counts={c: 10**6 + c for c in cols},
                null_value_counts={c: c for c in cols},
                nan_value_counts={c: 0 for c in cols if c % 4 == 0},
                lower_bounds={c: struct.pack("<q", -c * 10**9) if c % 2 else b"a" * 16 for c in cols},
                upper_bounds={c: struct.pack("<q", c * 10**9) if c % 2 else b"z" * 16 for c in cols},
                split_offsets=[4],
            ),
        )
        for i in range(n)
    ]
    # a bytearray, so the memo's key is a copy the measurement counts
    return bytearray(write_manifest(entries, PARTITION_FIELDS))


def test_memo_weight_grows_with_table_width():
    narrow = M._weight(read_ocf(bytes(_wide_manifest("A", 1, 4)))[2])
    wide = M._weight(read_ocf(bytes(_wide_manifest("A", 1, 100)))[2])
    # five stats maps per column, plus nan_value_counts on every fourth
    assert wide - narrow == 96 * 5 + 24
    assert M.DECODE_MEMO_MAX_ITEMS * BYTES_PER_ITEM <= 64 * 2**20


@pytest.mark.parametrize("ncols", [4, 100])
def test_memo_holds_at_most_its_byte_bound(ncols):
    cap = 30_000
    files = [_wide_manifest(str(t), 10, ncols) for t in range(120 if ncols == 4 else 10)]
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        memo = M._DecodeMemo(cap)
        for f in files:
            memo.records(f)
        held = tracemalloc.get_traced_memory()[0] - base
    finally:
        tracemalloc.stop()
    s = memo.stats()
    assert s["evictions"] > 0
    assert cap - M._weight(read_ocf(bytes(files[0]))[2]) < s["items"] <= cap
    assert held <= s["items"] * BYTES_PER_ITEM
