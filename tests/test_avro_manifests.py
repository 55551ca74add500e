"""Clean-room Avro encoder (format/avro.py) + Iceberg v2 manifest
encoding (format/iceberg_manifests.py).

The byte-level assertions are written against the PUBLIC Avro 1.11 spec
(magic, metadata map, sync markers, zigzag varints) independently of the
encoder's own reader, so writer and reader can't be wrong together in
the framing; record-level round-trips then exercise the full type
lattice with hypothesis.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lakekeeper_spark.format.avro import MAGIC, read_long, read_ocf, write_long, write_ocf


# ------------------------------------------------------------ primitives
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_varint_roundtrip(n):
    buf = io.BytesIO()
    write_long(buf, n)
    buf.seek(0)
    assert read_long(buf) == n


def test_zigzag_known_vectors():
    """Spec examples: 0->00, -1->01, 1->02, -2->03, 2->04; -64->7f,
    64->80 01 (multi-byte continuation)."""
    vectors = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
               -64: b"\x7f", 64: b"\x80\x01"}
    for n, raw in vectors.items():
        buf = io.BytesIO()
        write_long(buf, n)
        assert buf.getvalue() == raw, f"{n} -> {buf.getvalue()!r}"


SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long", "field-id": 7},
        {"name": "f", "type": "double"},
        {"name": "opt", "type": ["null", "int"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "b", "type": "bytes"},
    ],
}

rows_strategy = st.lists(
    st.fixed_dictionaries(
        {
            "s": st.text(max_size=20),
            "n": st.integers(min_value=-(2**62), max_value=2**62),
            "f": st.floats(allow_nan=False, allow_infinity=False),
            "opt": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "arr": st.lists(st.integers(-(2**40), 2**40), max_size=5),
            "m": st.dictionaries(st.text(max_size=5), st.text(max_size=5), max_size=3),
            "b": st.binary(max_size=16),
        }
    ),
    max_size=20,
)


@settings(max_examples=25, deadline=None)
@given(rows_strategy, st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip_fuzz(tmp_path_factory, rows, codec):
    p = str(tmp_path_factory.mktemp("avro") / "t.avro")
    write_ocf(p, SCHEMA, rows, codec=codec)
    schema2, rows2, meta = read_ocf(p)
    assert rows2 == rows
    assert schema2 == SCHEMA  # field-id annotations survive
    assert meta["avro.codec"].decode() == codec


def test_ocf_byte_level_framing(tmp_path):
    """Decode the container with independent code: magic, metadata map
    (one positive-count block of string->bytes pairs), 16-byte sync,
    then per-block count/size/payload/sync."""
    p = str(tmp_path / "t.avro")
    rows = [{"s": "a", "n": 1, "f": 0.5, "opt": None, "arr": [1], "m": {}, "b": b"x"}]
    write_ocf(p, SCHEMA, rows, codec="deflate")
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC
    buf = io.BytesIO(raw[4:])

    def zz():  # independent zigzag-varint decoder
        shift = acc = 0
        while True:
            b = buf.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    meta = {}
    while True:
        cnt = zz()
        if cnt == 0:
            break
        for _ in range(abs(cnt)):
            k = buf.read(zz()).decode()
            meta[k] = buf.read(zz())
    assert json.loads(meta["avro.schema"]) == SCHEMA
    assert meta["avro.codec"] == b"deflate"
    sync = buf.read(16)
    n_obj = zz()
    size = zz()
    payload = buf.read(size)
    assert n_obj == 1
    body = zlib.decompressobj(-15).decompress(payload)
    # first field of the record is the string "a": length 1 + byte
    assert body[:2] == b"\x02a"
    assert buf.read(16) == sync
    assert buf.read() == b""  # exactly one block


def test_block_chunking_and_skippable_negative_counts(tmp_path):
    p = str(tmp_path / "t.avro")
    rows = [
        {"s": str(i), "n": i, "f": 0.0, "opt": None, "arr": [], "m": {}, "b": b""}
        for i in range(2500)
    ]
    write_ocf(p, SCHEMA, rows, objects_per_block=1000)
    _, rows2, _ = read_ocf(p)
    assert rows2 == rows
    # a reader must accept the spec's negative-count array form
    from lakekeeper_spark.format.avro import _decode, _Types

    buf = io.BytesIO()
    write_long(buf, -2)  # 2 items, with byte-size prefix
    write_long(buf, 2)  # byte size
    write_long(buf, 3)
    write_long(buf, 4)
    write_long(buf, 0)
    buf.seek(0)
    assert _decode(buf, {"type": "array", "items": "long"}, _Types()) == [3, 4]


# ----------------------------------------------------- manifest encoding
def test_single_value_serialization_vectors():
    from lakekeeper_spark.format.iceberg_manifests import (
        single_value_bytes,
        single_value_load,
    )

    assert single_value_bytes("int", 1) == b"\x01\x00\x00\x00"  # 4-byte LE
    assert single_value_bytes("long", 1) == struct.pack("<q", 1)
    assert single_value_bytes("string", "aé") == "aé".encode()
    assert single_value_bytes("double", 1.5) == struct.pack("<d", 1.5)
    for t, v in [("int", -7), ("long", 2**40), ("double", -0.25), ("string", "x")]:
        assert single_value_load(t, single_value_bytes(t, v)) == v


def test_snapshot_manifests_roundtrip(tmp_path):
    from lakekeeper_spark.format.iceberg_manifests import (
        mirrors_inline,
        read_manifest,
        read_manifest_list,
        write_manifest_file,
        write_manifest_list_file,
    )

    meta = {
        "format-version": 2,
        "current-schema-id": 0,
        "default-spec-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "type": "long", "required": False},
                    {"id": 2, "name": "v", "type": "string", "required": False},
                    {"id": 3, "name": "day", "type": "int", "required": False},
                ],
            }
        ],
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "day",
                        "source-id": 3,
                        "source-name": "day",
                        "field-id": 1000,
                        "transform": "identity",
                    }
                ],
            }
        ],
    }
    data = [
        {
            "path": "data/day=3/f1.parquet",
            "record-count": 10,
            "file-size-in-bytes": 1234,
            "sequence-number": 7,
            "partition": {"day": "3"},
            "bounds": {"k": [1, 10], "v": ["a", "z"]},
        },
        {
            "path": "data/day=4/f0.parquet",
            "record-count": 4,
            "file-size-in-bytes": 600,
            "sequence-number": 5,  # carried over -> status=existing
            "partition": {"day": "4"},
        },
    ]
    dels = [
        {
            "path": "data/deletes/d1.parquet",
            "record-count": 2,
            "file-size-in-bytes": 300,
            "sequence-number": 7,
            "partition": {},
            "content": "equality-deletes",
            "equality-ids": [1],
        },
    ]
    descs = [write_manifest_file(meta, es, 42, 7, str(tmp_path)) for es in (data, dels)]
    lp = write_manifest_list_file(meta, 42, 7, descs, str(tmp_path))
    snapshot = {
        "snapshot-id": 42,
        "sequence-number": 7,
        "manifests": descs,
        "manifest-list": lp,
    }
    mfs = read_manifest_list(lp)
    assert [m["content"] for m in mfs] == [0, 1]  # data + deletes split
    data_mf = mfs[0]
    assert data_mf["added_files_count"] == 1
    assert data_mf["existing_files_count"] == 1
    assert data_mf["added_rows_count"] == 10
    assert data_mf["min_sequence_number"] == 5
    assert data_mf["sequence_number"] == 7
    entries = read_manifest(data_mf["manifest_path"])
    by_path = {e["data_file"]["file_path"]: e for e in entries}
    e1 = by_path["data/day=3/f1.parquet"]
    assert e1["status"] == 1 and e1["snapshot_id"] == 42
    assert e1["data_file"]["partition"] == {"day": 3}  # typed (identity int)
    lows = {b["key"]: b["value"] for b in e1["data_file"]["lower_bounds"]}
    assert lows[1] == struct.pack("<q", 1)  # field-id 1 (k: long), LE
    assert lows[2] == b"a"
    del_entries = read_manifest(mfs[1]["manifest_path"])
    assert del_entries[0]["data_file"]["content"] == 2
    assert del_entries[0]["data_file"]["equality_ids"] == [1]
    assert mirrors_inline(snapshot)
    # tampering is detected by the mirror check: an engine copy whose
    # record count differs from the listed manifest's records
    tampered = [{**data[0], "record-count": 11}, data[1]]
    snapshot["manifests"] = [
        write_manifest_file(meta, tampered, 42, 7, str(tmp_path)),
        descs[1],
    ]
    assert not mirrors_inline(snapshot)


def test_field_ids_present_in_written_schema(tmp_path):
    """A stock Iceberg reader resolves manifest columns by field-id;
    every field of the written Avro schemas must carry one."""
    from lakekeeper_spark.format.iceberg_manifests import (
        MANIFEST_FILE_SCHEMA,
        manifest_entry_schema,
    )

    def walk(node, where):
        if isinstance(node, dict) and node.get("type") == "record":
            for f in node["fields"]:
                assert "field-id" in f, f"{where}.{f['name']} missing field-id"
                walk(f["type"], f"{where}.{f['name']}")
        elif isinstance(node, list):
            for b in node:
                walk(b, where)
        elif isinstance(node, dict) and node.get("type") in ("array", "map"):
            walk(node.get("items") or node.get("values"), where + "[]")

    walk(MANIFEST_FILE_SCHEMA, "manifest_file")
    walk(manifest_entry_schema([]), "manifest_entry")


# ---------------------------------------------------------------------------
# Golden FOREIGN fixtures (round-7 verdict item 4): manifest-list + manifest
# OCF bytes hand-assembled from the Avro 1.11 spec's encoding rules, fully
# independent of write_ocf — the pattern test_dv_puffin.py set for roaring/
# Puffin. Proves format/avro.py decodes what a stock engine would WRITE,
# not merely what its own writer emits: deflate codec, the skippable
# negative-count array-block form (which write_ocf never produces), and v3
# DV addressing fields 143/144/145.
# ---------------------------------------------------------------------------
def _zz(n: int) -> bytes:
    """Spec 'Binary Encoding': zigzag then base-128 varint, low groups
    first, high bit = continuation. Pinned against the spec's own vectors
    below, NOT against format/avro.py."""
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _s(x: str) -> bytes:  # string: long length + utf8
    b = x.encode()
    return _zz(len(b)) + b


def _b(x: bytes) -> bytes:  # bytes: long length + raw
    return _zz(len(x)) + x


def test_hand_zigzag_matches_spec_vectors():
    assert _zz(0) == b"\x00" and _zz(-1) == b"\x01" and _zz(1) == b"\x02"
    assert _zz(-64) == b"\x7f" and _zz(64) == b"\x80\x01"


def _ocf(schema: dict, payload: bytes, n_records: int, codec: str = "null") -> bytes:
    """Spec 'Object Container Files': magic, metadata map (avro.schema +
    avro.codec), sync marker, one data block (count, byte-size, bytes,
    sync)."""
    import zlib as _zlib

    sync = bytes(range(16))
    meta_entries = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    meta = _zz(len(meta_entries))
    for k, v in meta_entries.items():
        meta += _s(k) + _b(v)
    meta += _zz(0)  # map terminator block
    if codec == "deflate":
        co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
        payload = co.compress(payload) + co.flush()
    return (
        b"Obj\x01" + meta + sync + _zz(n_records) + _zz(len(payload)) + payload + sync
    )


def test_golden_foreign_manifest_list(tmp_path):
    """One manifest_file record, null codec, encoded field-by-field from
    the spec's record/union/string/long rules."""
    from lakekeeper_spark.format.iceberg_manifests import (
        MANIFEST_FILE_SCHEMA,
        read_manifest_list,
    )

    rec = (
        _s("s3://bucket/meta/m1.avro")  # manifest_path (string)
        + _zz(1234)  # manifest_length
        + _zz(0)  # partition_spec_id (int)
        + _zz(1)  # content = deletes
        + _zz(5)  # sequence_number
        + _zz(5)  # min_sequence_number
        + _zz(99)  # added_snapshot_id
        + _zz(1)  # added_files_count
        + _zz(0)  # existing_files_count
        + _zz(0)  # deleted_files_count
        + _zz(3)  # added_rows_count
        + _zz(0)  # existing_rows_count
        + _zz(0)  # deleted_rows_count
        # partitions: union ["null", array] -> branch 1, one block with one
        # field_summary, then terminator
        + _zz(1)
        + _zz(1)
        + (b"\x01" + _zz(1) + b"\x00" + _zz(1) + _b(b"\x2a\x00\x00\x00") + _zz(1) + _b(b"\x99\x00\x00\x00"))
        + _zz(0)
        + _zz(0)  # key_metadata: union branch 0 = null
    )
    p = tmp_path / "list.avro"
    p.write_bytes(_ocf(MANIFEST_FILE_SCHEMA, rec, 1))
    rows = read_manifest_list(str(p))
    assert len(rows) == 1
    r = rows[0]
    assert r["manifest_path"] == "s3://bucket/meta/m1.avro"
    assert r["manifest_length"] == 1234
    assert r["content"] == 1
    assert r["sequence_number"] == r["min_sequence_number"] == 5
    assert r["added_snapshot_id"] == 99
    assert (r["added_files_count"], r["added_rows_count"]) == (1, 3)
    assert r["partitions"] == [
        {
            "contains_null": True,
            "contains_nan": False,
            "lower_bound": b"\x2a\x00\x00\x00",
            "upper_bound": b"\x99\x00\x00\x00",
        }
    ]
    assert r["key_metadata"] is None


def test_golden_foreign_manifest_with_dv_entry(tmp_path):
    """One manifest_entry carrying a v3 deletion-vector data_file
    (fields 143/144/145), DEFLATE codec, and the skippable negative-count
    array-block form for lower_bounds — a foreign encoding write_ocf never
    emits."""
    from lakekeeper_spark.format.iceberg_manifests import (
        manifest_entry_schema,
        read_manifest,
    )

    # kv-record for lower_bounds' single item: key int 1, value bytes
    kv = _zz(1) + _b(b"\x07\x00\x00\x00")
    data_file = (
        _zz(1)  # content = 1 (positional/DV)
        + _s("data/deletes/dv-abc.puffin")  # file_path
        + _s("puffin")  # file_format
        + b""  # partition: r102 with zero fields -> zero bytes
        + _zz(3)  # record_count
        + _zz(77)  # file_size_in_bytes
        # lower_bounds: union branch 1, NEGATIVE block count -1 (abs=1 item)
        # followed by the block's byte size, then the item, then terminator
        + _zz(1)
        + _zz(-1)
        + _zz(len(kv))
        + kv
        + _zz(0)
        + _zz(0)  # upper_bounds: null
        + _zz(0)  # key_metadata: null
        + _zz(0)  # split_offsets: null
        + _zz(0)  # equality_ids: null
        + _zz(0)  # sort_order_id: null
        + _zz(1)
        + _s("data/part-00001.parquet")  # referenced_data_file (143)
        + _zz(1)
        + _zz(4)  # content_offset (144)
        + _zz(1)
        + _zz(40)  # content_size_in_bytes (145)
    )
    entry = (
        _zz(1)  # status = added
        + _zz(1)
        + _zz(99)  # snapshot_id
        + _zz(1)
        + _zz(5)  # sequence_number
        + _zz(1)
        + _zz(5)  # file_sequence_number
        + data_file
    )
    p = tmp_path / "manifest.avro"
    p.write_bytes(_ocf(manifest_entry_schema([]), entry, 1, codec="deflate"))
    rows = read_manifest(str(p))
    assert len(rows) == 1
    e = rows[0]
    assert (e["status"], e["snapshot_id"]) == (1, 99)
    assert e["sequence_number"] == e["file_sequence_number"] == 5
    df = e["data_file"]
    assert df["content"] == 1
    assert df["file_path"] == "data/deletes/dv-abc.puffin"
    assert df["file_format"] == "puffin"
    assert df["partition"] == {}
    assert (df["record_count"], df["file_size_in_bytes"]) == (3, 77)
    assert df["lower_bounds"] == [{"key": 1, "value": b"\x07\x00\x00\x00"}]
    assert df["referenced_data_file"] == "data/part-00001.parquet"
    assert df["content_offset"] == 4
    assert df["content_size_in_bytes"] == 40
