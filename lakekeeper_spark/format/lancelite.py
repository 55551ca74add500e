"""lancelite: a pure-Python subset of the Lance v2 file format, enough to
serve vector datasets through the generic-table API without the external
``lance`` library.

Why this exists
---------------
The reference registers Lance datasets as *generic tables* — a
format-agnostic (format, base-location, properties) registry entry — and
its integration suite (``tests/integration-tests/lance/test_lance.py``)
drives create/register/LoadCredentials/read end-to-end with the ``lance``
client library doing the byte-level IO. The catalog itself never parses
Lance bytes (``server/generic_tables.rs`` stores the location string).
This container has no ``lance`` package, so this module supplies the
missing byte-level half for the read path.

Fidelity contract (READ THIS before comparing to real Lance)
-----------------------------------------------------------
The *container* layout follows the published Lance v2 file spec exactly:

- data pages first, then per-column metadata blobs, then the column
  metadata offset table (u64 offset/size pairs), then the global-buffer
  offset table (u64 pairs), then a 40-byte footer;
- footer = ``<Q col_meta_start><Q col_meta_offsets_start>
  <Q global_buff_offsets_start><I num_global_buffers><I num_columns>
  <H major><H minor>'LANC'`` (little-endian);
- version is written as (major=0, minor=3): the spec numbers the stable
  2.0 format ``0.3`` for historical reasons;
- global buffer 0 is the file descriptor (schema + row count);
- each column's pages carry parallel ``buffer_offsets``/``buffer_sizes``
  arrays, a row ``length``, and an encoding descriptor.

The metadata *payloads* are real protobuf wire format (hand-rolled
varint/tag encoding in :mod:`.protowire` — the same move as the repo's
Postgres/Kafka/NATS wire clients), mirroring the message shapes of the
public ``file2.proto`` / ``file.proto``:

- column metadata = ``ColumnMetadata{ pages=1 }`` with
  ``Page{ buffer_offsets=1, buffer_sizes=2, length=3, encoding=4,
  priority=5 }`` (packed uint64s);
- ``Encoding{ direct=1 }`` / ``DirectEncoding{ encoding=1 }`` — the
  encoding bytes are a ``google.protobuf.Any`` (type_url + value)
  wrapping the page's ``lance.encodings.ArrayEncoding`` message, the
  real-library layout (round-15): ``Nullable{no_nulls|some_nulls}``
  over ``Flat`` / ``Binary`` (32-bit offsets + bytes) /
  ``FixedSizeList``, buffers referenced by page index (honored on read,
  whatever order the file stored them in). Page zone-map stats ride in
  DirectEncoding field 2 — a documented VENDOR field real parsers skip
  as unknown, so field 1 stays the real shape. Round 16 widened the
  read vocabulary with ``Nullable.all_nulls`` pages (zero buffers,
  typed nulls) and byte-aligned width-reduced ``Flat`` values (int64
  stored as 8/16/32-bit two's-complement, int32 as 8/16-bit, float64
  as float32 — widened on decode). Files whose encodings still fall
  outside (non-flat validity, sub-byte bitpacking,
  dictionary/packed-struct/mini-block layouts, non-page buffers) raise
  the actionable "needs the lance library" error instead of
  mis-decoding; the ArrayEncoding field numbers follow the public
  ``encodings.proto`` shapes;
- file descriptor = ``FileDescriptor{ schema=1, num_rows=2 }`` with
  ``Schema{ fields=1, metadata=2 }`` and the ``file.proto``
  ``Field{ type=1, name=2, id=3, parent_id=4, logical_type=5,
  nullable=6 }`` tree — fixed-size-list columns serialize the way Lance
  schemas do, as a PARENT field (``logical_type="fixed_size_list:<dim>"``)
  with a LEAF ``item`` child, ids depth-first, top-level parent_id = -1.

Files written by earlier lancelite rounds (JSON metadata payloads, or a
``LanceliteEncoding`` message in place of the Any) are no longer read:
the reader raises ``LanceLiteError`` naming the legacy format.

Supported logical types (the test_lance.py fixture set + vectors):
``int32``, ``int64``, ``float32``, ``float64``, ``utf8`` (string), and
``fixed_size_list<float32, dim>`` (embedding vectors). All types support
nulls via an Arrow-style LSB validity bitmap buffer.

Page codecs are Arrow-vectorized end to end: encode slices pyarrow
arrays and emits buffers via numpy (no per-value Python), decode builds
pyarrow arrays zero-copy from the page buffers
(``pa.Array.from_buffers`` + ``validate(full=True)`` so corrupt bytes
raise instead of misbehaving). ``read_file`` keeps its python-list
return for callers/tests; the Spark read path consumes the arrays
directly.

A *dataset* is a directory containing ``data/*.lance`` files sharing one
schema (the layout the lance library writes); readers merge all files in
lexicographic order. The Spark adapter distributes one task per data
file via ``mapInPandas`` — at cluster scale every executor decodes its
own shard and nothing but the file list touches the driver.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

from .protowire import ProtoWireError, decode_message, encode_message
from ..functions.localframe import local_df

MAGIC = b"LANC"
# the stable 2.0 format is numbered (0, 3) on disk — spec quirk
MAJOR, MINOR = 0, 3
FOOTER = struct.Struct("<QQQIIHH4s")  # 40 bytes
_U64PAIR = struct.Struct("<QQ")

_FIXED = {  # logical type -> (numpy dtype, bytes per value)
    "int32": ("<i4", 4),
    "int64": ("<i8", 8),
    "float32": ("<f4", 4),
    "float64": ("<f8", 8),
}

# ---------------------------------------------------------------------------
# protobuf message schemas (file2.proto / file.proto shapes; see module
# docstring). protowire is schema-driven: name -> (field number, kind).
# ---------------------------------------------------------------------------
# google.protobuf.Any (well-known type): real Lance packs the page's
# ArrayEncoding message into DirectEncoding.encoding through this
# wrapper — type_url names the message, value carries its bytes.
_P_ANY = {"type_url": (1, "string"), "value": (2, "bytes")}
_AE_TYPE_URL = "type.googleapis.com/lance.encodings.ArrayEncoding"
# lance.encodings ArrayEncoding subset (public encodings.proto shapes;
# recursive message — the dict cycle is created by .update below).
# Covered vocabulary: Flat values, Nullable{no_nulls|some_nulls},
# FixedSizeList, Binary (offsets+bytes). Encodings outside it raise the
# actionable "needs the lance library" error instead of mis-decoding.
_P_AE: dict = {}
_P_AE_BUFFER = {  # Buffer { buffer_index, buffer_type enum (0 = page) }
    "buffer_index": (1, "uint64"),
    "buffer_type": (2, "uint32"),
}
_P_AE_FLAT = {
    "bits_per_value": (1, "uint64"),
    "buffer": (2, "msg", _P_AE_BUFFER),
}
_P_AE_NO_NULL = {"values": (1, "msg", _P_AE)}
_P_AE_ALL_NULL: dict = {}
_P_AE_SOME_NULL = {
    "validity": (1, "msg", _P_AE),
    "values": (2, "msg", _P_AE),
}
_P_AE_NULLABLE = {
    "no_nulls": (1, "msg", _P_AE_NO_NULL),
    "all_nulls": (2, "msg", _P_AE_ALL_NULL),
    "some_nulls": (3, "msg", _P_AE_SOME_NULL),
}
_P_AE_FSL = {"dimension": (1, "uint64"), "items": (2, "msg", _P_AE)}
_P_AE_BINARY = {
    "indices": (1, "msg", _P_AE),
    "bytes": (2, "msg", _P_AE),
    "null_adjustment": (3, "uint64"),
}
_P_AE.update(
    {
        "flat": (1, "msg", _P_AE_FLAT),
        "nullable": (2, "msg", _P_AE_NULLABLE),
        "fixed_size_list": (3, "msg", _P_AE_FSL),
        "binary": (4, "msg", _P_AE_BINARY),
    }
)
# page zone-map stats: a lancelite VENDOR field (number 2) on
# DirectEncoding — real parsers skip unknown fields, so the Any-wrapped
# ArrayEncoding in field 1 stays exactly the real-library layout
_P_PAGE_STATS = {
    "stats_float": (1, "bool"),
    "min_int": (2, "sint64"),
    "max_int": (3, "sint64"),
    "min_double": (4, "double"),
    "max_double": (5, "double"),
}
_P_DIRECT_ENCODING = {
    "encoding": (1, "bytes"),
    "stats": (2, "msg", _P_PAGE_STATS),
}
_P_ENCODING = {"direct": (1, "msg", _P_DIRECT_ENCODING)}
_P_PAGE = {
    "buffer_offsets": (1, "packed_uint64"),
    "buffer_sizes": (2, "packed_uint64"),
    "length": (3, "uint64"),
    "encoding": (4, "msg", _P_ENCODING),
    "priority": (5, "uint64"),
}
_P_COLUMN_METADATA = {
    "pages": (1, "rep_msg", _P_PAGE),
    "buffer_offsets": (2, "packed_uint64"),
    "buffer_sizes": (3, "packed_uint64"),
    "encoding": (4, "msg", _P_ENCODING),
}
_P_FIELD = {  # file.proto Field; type enum: 0 PARENT, 1 REPEATED, 2 LEAF
    "type": (1, "int32"),
    "name": (2, "string"),
    "id": (3, "int32"),
    "parent_id": (4, "int32"),
    "logical_type": (5, "string"),
    "nullable": (6, "bool"),
}
_P_SCHEMA_META = {"key": (1, "string"), "value": (2, "bytes")}
_P_SCHEMA = {
    "fields": (1, "rep_msg", _P_FIELD),
    "metadata": (2, "rep_msg", _P_SCHEMA_META),
}
_P_FILE_DESCRIPTOR = {"schema": (1, "msg", _P_SCHEMA), "num_rows": (2, "uint64")}

_PARENT, _LEAF = 0, 2
_LOGICAL = {  # lancelite type <-> lance logical_type string
    "int32": "int32",
    "int64": "int64",
    "float32": "float",
    "float64": "double",
    "utf8": "string",
}
_LOGICAL_BACK = {v: k for k, v in _LOGICAL.items()}


class LanceLiteError(ValueError):
    """Malformed or unsupported lancelite/Lance bytes."""


@dataclass
class Field:
    name: str
    type: str  # int32|int64|float32|float64|utf8|fsl_float32
    nullable: bool = True
    dim: int = 0  # fsl_float32 only

    def to_json(self) -> dict:
        d = {"name": self.name, "type": self.type, "nullable": self.nullable}
        if self.type == "fsl_float32":
            d["dim"] = self.dim
        return d


def _pa_type(f: Field):
    import pyarrow as pa

    m = {
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "utf8": pa.utf8(),
    }
    if f.type == "fsl_float32":
        return pa.list_(pa.float32(), f.dim)
    if f.type not in m:
        raise LanceLiteError(f"unsupported type: {f.type}")
    return m[f.type]


# ---------------------------------------------------------------------------
# schema tree <-> flat lancelite fields (file.proto Field messages)
# ---------------------------------------------------------------------------
def _fields_to_proto(fields: list[Field]) -> list[dict]:
    out: list[dict] = []
    next_id = 0
    for f in fields:
        if f.type == "fsl_float32":
            pid = next_id
            out.append(
                {
                    "type": _PARENT,
                    "name": f.name,
                    "id": pid,
                    "parent_id": -1,
                    "logical_type": f"fixed_size_list:{f.dim}",
                    "nullable": f.nullable,
                }
            )
            out.append(
                {
                    "type": _LEAF,
                    "name": "item",
                    "id": pid + 1,
                    "parent_id": pid,
                    "logical_type": "float",
                    "nullable": False,
                }
            )
            next_id += 2
        else:
            out.append(
                {
                    "type": _LEAF,
                    "name": f.name,
                    "id": next_id,
                    "parent_id": -1,
                    "logical_type": _LOGICAL[f.type],
                    "nullable": f.nullable,
                }
            )
            next_id += 1
    return out


def _fields_from_proto(pfields: list[dict]) -> list[Field]:
    children: dict[int, list[dict]] = {}
    for pf in pfields:
        children.setdefault(pf["parent_id"], []).append(pf)
    out: list[Field] = []
    for pf in children.get(-1, []):
        lt = pf["logical_type"]
        if pf["type"] == _LEAF and lt in _LOGICAL_BACK:
            out.append(Field(pf["name"], _LOGICAL_BACK[lt], pf["nullable"]))
            continue
        if pf["type"] == _PARENT and lt.startswith("fixed_size_list:"):
            kids = children.get(pf["id"], [])
            if len(kids) == 1 and kids[0]["logical_type"] == "float":
                try:
                    dim = int(lt.split(":")[-1])
                except ValueError:
                    dim = -1
                if dim > 0:
                    out.append(
                        Field(pf["name"], "fsl_float32", pf["nullable"], dim)
                    )
                    continue
        raise LanceLiteError(
            f"schema field {pf['name']!r} ({lt!r}) is outside the lancelite "
            "subset — this Lance file needs the lance library "
            "(register_lance_reader)"
        )
    if not out:
        raise LanceLiteError(
            "file descriptor carries no readable schema — a real-protobuf "
            "Lance file outside the subset needs the lance library "
            "(register_lance_reader)"
        )
    return out


# ---------------------------------------------------------------------------
# metadata payload (de)serialization: protobuf
# ---------------------------------------------------------------------------
def _ae_flat(bits: int, buffer_index: int) -> dict:
    return {
        "flat": {
            "bits_per_value": bits,
            "buffer": {"buffer_index": buffer_index},
        }
    }


def _enc_to_proto(enc: dict, stats: dict | None, field: Field) -> dict:
    """Page encoding descriptor, real-library layout (round-15):
    DirectEncoding.encoding = google.protobuf.Any wrapping the page's
    lance.encodings.ArrayEncoding tree (Nullable{no_nulls|some_nulls}
    over Flat / Binary / FixedSizeList, buffers referenced by page
    index). Zone-map stats ride in DirectEncoding field 2 — a vendor
    field real parsers skip, keeping field 1 byte-compatible."""
    has_validity = bool(enc.get("has_validity"))
    i = 1 if has_validity else 0  # value buffers follow the validity
    kind = enc["type"]
    if kind == "plain":
        values = _ae_flat(_FIXED[field.type][1] * 8, i)
    elif kind == "utf8":
        values = {
            "binary": {"indices": _ae_flat(32, i), "bytes": _ae_flat(8, i + 1)}
        }
    elif kind == "fsl":
        values = {
            "fixed_size_list": {
                "dimension": int(enc["dim"]),
                "items": _ae_flat(32, i),
            }
        }
    else:  # pragma: no cover - writer guards earlier
        raise LanceLiteError(f"unsupported type: {kind!r}")
    ae = {
        "nullable": (
            {"some_nulls": {"validity": _ae_flat(1, 0), "values": values}}
            if has_validity
            else {"no_nulls": {"values": values}}
        )
    }
    direct: dict = {
        "encoding": encode_message(
            _P_ANY,
            {"type_url": _AE_TYPE_URL, "value": encode_message(_P_AE, ae)},
        )
    }
    if stats is not None:
        is_float = field.type in ("float32", "float64")
        s: dict = {"stats_float": is_float}
        if is_float:
            s["min_double"] = float(stats["min"])
            s["max_double"] = float(stats["max"])
        else:
            s["min_int"] = int(stats["min"])
            s["max_int"] = int(stats["max"])
        direct["stats"] = s
    return {"direct": direct}


def _unsupported(what: str) -> LanceLiteError:
    return LanceLiteError(
        f"{what} — this Lance file's encodings are outside the lancelite "
        "subset and need the lance library (register_lance_reader)"
    )


def _ae_unwrap_no_nulls(node: dict | None) -> dict | None:
    """Real Lance sometimes wraps inner value encodings in a redundant
    Nullable.no_nulls; unwrap those so the dispatch below sees the
    value encoding itself."""
    while (
        node is not None
        and node.get("nullable") is not None
        and node["nullable"].get("no_nulls") is not None
    ):
        node = node["nullable"]["no_nulls"]["values"]
    return node


def _ae_buffer_index(flat: dict, what: str) -> int:
    buf = flat.get("buffer") or {}
    if buf.get("buffer_type", 0) != 0:  # 0 = page buffer
        raise _unsupported(f"{what} references a non-page buffer")
    return int(buf.get("buffer_index", 0))


def _enc_from_array_encoding(ae: dict) -> dict:
    """Map a decoded lance.encodings.ArrayEncoding tree onto lancelite's
    internal page-encoding dict. ``buffer_order`` lists the page-buffer
    indexes in [validity?, value buffers...] order so _decode_page can
    honor the message's buffer references whatever order the file
    stored them in."""
    has_validity = False
    order: list[int] = []
    node: dict | None = ae
    nul = ae.get("nullable")
    if nul is not None:
        if nul.get("all_nulls") is not None:
            # Nullable.all_nulls: the page stores NO buffers at all —
            # every value is null (public encodings.proto Nullable
            # variant); decode as a typed all-null array
            return {"type": "all_null", "has_validity": False, "buffer_order": []}
        if nul.get("some_nulls") is not None:
            sn = nul["some_nulls"]
            has_validity = True
            validity = _ae_unwrap_no_nulls(sn.get("validity"))
            if validity is None or validity.get("flat") is None:
                raise _unsupported("non-flat validity encoding")
            if int(validity["flat"].get("bits_per_value", 0)) != 1:
                # a byte-per-value mask would pass the bitmap length
                # check and silently decode a wrong null pattern
                raise _unsupported("validity encoding is not 1-bit")
            order.append(_ae_buffer_index(validity["flat"], "validity"))
            node = sn.get("values")
        elif nul.get("no_nulls") is not None:
            node = nul["no_nulls"]["values"]
        else:
            raise _unsupported("empty Nullable encoding")
    node = _ae_unwrap_no_nulls(node)
    if node is None:
        raise _unsupported("missing value encoding")
    enc: dict = {"has_validity": has_validity}
    if node.get("flat") is not None:
        enc["type"] = "plain"
        # recorded so _decode_page (which knows the declared field) can
        # reject width-reduced values as out-of-vocabulary instead of
        # misdiagnosing them as a corrupt page
        enc["bits_per_value"] = int(
            node["flat"].get("bits_per_value", 0)
        )
        order.append(_ae_buffer_index(node["flat"], "flat values"))
    elif node.get("binary") is not None:
        b = node["binary"]
        idx = _ae_unwrap_no_nulls(b.get("indices"))
        byt = _ae_unwrap_no_nulls(b.get("bytes"))
        if (
            idx is None
            or idx.get("flat") is None
            or byt is None
            or byt.get("flat") is None
        ):
            raise _unsupported("non-flat binary encoding")
        if int(idx["flat"].get("bits_per_value", 0)) != 32:
            raise _unsupported("binary offsets are not 32-bit")
        if int(b.get("null_adjustment", 0)):
            # the real writer's null-marker offset scheme: decoding it
            # as plain Arrow offsets would yield wrong strings
            raise _unsupported("binary null_adjustment offsets")
        enc["type"] = "utf8"
        order.append(_ae_buffer_index(idx["flat"], "binary offsets"))
        order.append(_ae_buffer_index(byt["flat"], "binary bytes"))
    elif node.get("fixed_size_list") is not None:
        fsl = node["fixed_size_list"]
        items = _ae_unwrap_no_nulls(fsl.get("items"))
        if items is None or items.get("flat") is None:
            raise _unsupported("non-flat fixed-size-list items")
        if int(items["flat"].get("bits_per_value", 0)) != 32:
            raise _unsupported("fixed-size-list items are not 32-bit")
        enc["type"] = "fsl"
        enc["dim"] = int(fsl.get("dimension", 0))
        order.append(_ae_buffer_index(items["flat"], "fsl items"))
    else:
        raise _unsupported("unrecognized ArrayEncoding variant")
    enc["buffer_order"] = order
    return enc


def _enc_from_proto(pmsg: dict | None) -> tuple[dict, dict | None]:
    direct = (pmsg or {}).get("direct")
    if not direct or not direct.get("encoding"):
        raise _unsupported("page has no direct encoding")
    raw = direct["encoding"]
    # the real-library layout: a google.protobuf.Any wrapping the page's
    # ArrayEncoding. Round-14 lancelite wrote a LanceliteEncoding message
    # here instead; it either fails the Any parse (field 2 is a varint
    # there) or carries a kind string without "/" in field 1.
    try:
        any_msg = decode_message(_P_ANY, raw)
    except ProtoWireError:
        any_msg = {}
    if "/" not in any_msg.get("type_url", ""):
        raise LanceLiteError(
            "page encoding is not an Any-wrapped ArrayEncoding (a round-14 "
            "lancelite LanceliteEncoding payload?); it is no longer read"
        )
    # anything but the ArrayEncoding vocabulary is out of subset
    if not any_msg["type_url"].endswith("lance.encodings.ArrayEncoding"):
        raise _unsupported(f"encoding message {any_msg['type_url']!r}")
    try:
        ae = decode_message(_P_AE, any_msg.get("value", b""))
    except ProtoWireError as e:
        raise LanceLiteError(
            f"Any-wrapped ArrayEncoding does not parse: {e}"
        ) from e
    enc = _enc_from_array_encoding(ae)
    stats = None
    s = direct.get("stats") if isinstance(direct, dict) else None
    if s:
        stats = (
            {"min": s["min_double"], "max": s["max_double"]}
            if s["stats_float"]
            else {"min": s["min_int"], "max": s["max_int"]}
        )
    return enc, stats


def _col_meta_to_bytes(cm: dict, field: Field) -> bytes:
    pages = []
    for p in cm["pages"]:
        pages.append(
            {
                "buffer_offsets": p["buffer_offsets"],
                "buffer_sizes": p["buffer_sizes"],
                "length": p["length"],
                "priority": p["priority"],
                "encoding": _enc_to_proto(
                    p["encoding"], p.get("stats"), field
                ),
            }
        )
    return encode_message(_P_COLUMN_METADATA, {"pages": pages})


def parse_column_metadata(blob: bytes) -> dict:
    """Decode one protobuf column-metadata payload into the internal
    page-dict shape. Public for tests/tools that inspect raw files."""
    if blob[:1] == b"{":
        raise LanceLiteError(
            "column metadata is a round-13 lancelite JSON payload, which "
            "is no longer read"
        )
    try:
        pcm = decode_message(_P_COLUMN_METADATA, blob)
    except ProtoWireError as e:
        raise LanceLiteError(f"column metadata is not lancelite protobuf: {e}") from e
    pages = []
    for p in pcm["pages"]:
        enc, stats = _enc_from_proto(p["encoding"])
        page = {
            "buffer_offsets": p["buffer_offsets"],
            "buffer_sizes": p["buffer_sizes"],
            "length": p["length"],
            "priority": p["priority"],
            "encoding": enc,
        }
        if stats is not None:
            page["stats"] = stats
        pages.append(page)
    return {"pages": pages}


def _descriptor_to_bytes(fields: list[Field], n_rows: int) -> bytes:
    return encode_message(
        _P_FILE_DESCRIPTOR,
        {
            "schema": {
                "fields": _fields_to_proto(fields),
                "metadata": [
                    {"key": "writer", "value": b"lakekeeper_spark.lancelite"}
                ],
            },
            "num_rows": n_rows,
        },
    )


def _descriptor_from_bytes(blob: bytes) -> tuple[list[Field], int]:
    if blob[:1] == b"{":
        raise LanceLiteError(
            "file descriptor is a round-13 lancelite JSON payload, which "
            "is no longer read"
        )
    try:
        fd = decode_message(_P_FILE_DESCRIPTOR, blob)
    except ProtoWireError as e:
        raise LanceLiteError(
            "file descriptor does not parse as file2.proto FileDescriptor — "
            "this Lance file needs the lance library "
            f"(register_lance_reader): {e}"
        ) from e
    if not fd.get("schema"):
        raise LanceLiteError(
            "file descriptor has no schema — this Lance file needs the "
            "lance library (register_lance_reader)"
        )
    return _fields_from_proto(fd["schema"]["fields"]), int(fd["num_rows"])


# --------------------------------------------------------------------------
# page codecs: pyarrow array slices -> buffers and back (vectorized; no
# per-value Python anywhere on the hot path)
# --------------------------------------------------------------------------
def _pack_validity(arr) -> bytes:
    import numpy as np
    import pyarrow.compute as pc

    valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
    return np.packbits(valid, bitorder="little").tobytes()


def _encode_page(field: Field, arr) -> tuple[list[bytes], dict, dict | None]:
    """Encode one page from a pyarrow array slice; returns
    (buffers, encoding doc, zone-map stats or None).
    Buffer order: [validity?] + type-specific value buffers."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(arr)
    has_nulls = arr.null_count > 0
    bufs: list[bytes] = [_pack_validity(arr)] if has_nulls else []
    enc: dict = {"type": None, "has_validity": has_nulls}
    stats: dict | None = None
    if field.type in _FIXED:
        dtype, _ = _FIXED[field.type]
        filled = pc.fill_null(arr, 0) if has_nulls else arr
        npv = filled.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
        bufs.append(npv.tobytes())
        enc["type"] = "plain"
        # zone map: per-page min/max (the page-skipping statistics real
        # Lance keeps as zone maps); null-only pages carry none and are
        # never wrongly skipped
        mm = pc.min_max(arr)
        if mm["min"].is_valid:
            stats = {"min": mm["min"].as_py(), "max": mm["max"].as_py()}
    elif field.type == "utf8":
        a = pc.fill_null(arr, "") if has_nulls else arr
        vb = a.buffers()
        off = np.frombuffer(vb[1], "<i4", count=a.offset + n + 1)[a.offset:]
        lo, hi = int(off[0]), int(off[-1])
        bufs.append((off - lo).astype("<i4").tobytes())
        bufs.append(vb[2].slice(lo, hi - lo).to_pybytes() if hi > lo else b"")
        enc["type"] = "utf8"
    elif field.type == "fsl_float32":
        d = field.dim
        child = arr.values.slice(arr.offset * d, n * d)
        if child.null_count:
            child = pc.fill_null(child, 0.0)
        npv = child.to_numpy(zero_copy_only=False).astype("<f4", copy=False)
        bufs.append(npv.tobytes())
        enc["type"] = "fsl"
        enc["dim"] = d
    else:
        raise LanceLiteError(f"unsupported type: {field.type}")
    return bufs, enc, stats


#: byte-aligned width-reduced Flat decode table: declared type ->
#: {stored bits: numpy dtype of the narrow values}. Signed widening is
#: the two's-complement inverse of the writer's narrowing; float64
#: pages may store float32 values. Sub-byte widths are true bitpacking
#: and stay out of the vocabulary.
_NARROW_FLAT = {
    "int64": {8: "<i1", 16: "<i2", 32: "<i4"},
    "int32": {8: "<i1", 16: "<i2"},
    "float64": {32: "<f4"},
}


def _decode_narrow_flat(
    field: Field, dtype: str, declared_bits: int, buf: bytes, validity, n: int
):
    """Decode a byte-aligned width-reduced Flat page by widening the
    narrow little-endian values to the declared type."""
    import numpy as np
    import pyarrow as pa

    narrow = _NARROW_FLAT.get(field.type, {}).get(int(declared_bits))
    if narrow is None:
        _, width = _FIXED.get(field.type, (None, 0))
        raise _unsupported(
            f"flat values are {declared_bits}-bit but column "
            f"{field.name!r} is {width * 8}-bit (non-byte-aligned or "
            "unsupported width reduction)"
        )
    nbytes = int(declared_bits) // 8
    if len(buf) != n * nbytes:
        raise LanceLiteError("narrow value buffer size mismatch")
    wide = np.frombuffer(buf, narrow, count=n).astype(dtype)
    return pa.Array.from_buffers(
        _pa_type(field), n, [validity, pa.py_buffer(wide.tobytes())]
    )


def _decode_page(field: Field, enc: dict, bufs: list[bytes], n: int):
    """Decode one page into a pyarrow array — zero-copy from_buffers over
    the page bytes, then a full validation pass so corrupt/scorched bytes
    raise LanceLiteError instead of yielding undefined values."""
    import pyarrow as pa

    order = enc.get("buffer_order")
    if order is not None:
        # ArrayEncoding messages reference page buffers by index; honor
        # them (our writer stores buffers in reference order, but a
        # real-library file may not)
        if any(ix >= len(bufs) for ix in order):
            raise LanceLiteError(
                "encoding references a page buffer that does not exist"
            )
        bufs = [bufs[ix] for ix in order]
    i = 0
    validity = None
    if enc.get("has_validity"):
        if len(bufs[0]) < (n + 7) // 8:
            raise LanceLiteError("validity bitmap shorter than the page")
        validity = pa.py_buffer(bufs[0])
        i = 1
    kind = enc.get("type")
    try:
        if kind == "all_null":
            arr = pa.nulls(n, type=_pa_type(field))
        elif kind == "plain":
            dtype, width = _FIXED[field.type]
            declared_bits = enc.get("bits_per_value")
            if declared_bits is not None and declared_bits != width * 8:
                # width-reduced Flat: the writer narrowed values that
                # fit a smaller fixed width (two's-complement for ints,
                # float32 for doubles). Byte-aligned widths decode by
                # widening; sub-byte bitpacked layouts stay outside the
                # vocabulary (they need the lance library's unpacker).
                arr = _decode_narrow_flat(
                    field, dtype, declared_bits, bufs[i], validity, n
                )
                arr.validate(full=True)
                return arr
            if len(bufs[i]) != n * width:
                raise LanceLiteError("value buffer size mismatch")
            arr = pa.Array.from_buffers(
                _pa_type(field), n, [validity, pa.py_buffer(bufs[i])]
            )
        elif kind == "utf8":
            if len(bufs[i]) != 4 * (n + 1):
                raise LanceLiteError("utf8 offsets buffer size mismatch")
            arr = pa.Array.from_buffers(
                pa.utf8(),
                n,
                [validity, pa.py_buffer(bufs[i]), pa.py_buffer(bufs[i + 1])],
            )
        elif kind == "fsl":
            d = int(enc["dim"])
            if len(bufs[i]) != n * d * 4:
                raise LanceLiteError("fsl value buffer size mismatch")
            values = pa.Array.from_buffers(
                pa.float32(), n * d, [None, pa.py_buffer(bufs[i])]
            )
            arr = pa.Array.from_buffers(
                pa.list_(pa.float32(), d), n, [validity], children=[values]
            )
        else:
            raise LanceLiteError(f"unsupported page encoding: {kind!r}")
        arr.validate(full=True)
    except LanceLiteError:
        raise
    except Exception as e:  # ArrowInvalid etc: corrupt page bytes
        raise LanceLiteError(f"column {field.name}: corrupt page: {e}") from e
    return arr


def _to_arrow_column(field: Field, values):
    """Normalize one column of input (python list, numpy, pandas Series,
    or pyarrow array) to a pyarrow array of the field's type."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        arr = (
            values.combine_chunks()
            if isinstance(values, pa.ChunkedArray)
            else values
        )
        if arr.type != _pa_type(field):
            arr = arr.cast(_pa_type(field))
        return arr
    try:
        return pa.array(values, type=_pa_type(field), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError) as e:
        if field.type == "fsl_float32":
            raise LanceLiteError(
                f"column {field.name!r}: a vector's length != fixed dim "
                f"{field.dim} (or non-numeric content): {e}"
            ) from e
        raise LanceLiteError(f"column {field.name!r}: {e}") from e


# --------------------------------------------------------------------------
# file writer
# --------------------------------------------------------------------------
def write_file(
    path: str,
    fields: list[Field],
    columns: dict,
    rows_per_page: int = 65536,
) -> None:
    """Write one .lance file: pages first, then column metadata (protobuf
    ColumnMetadata), offset tables, global buffers (protobuf
    FileDescriptor), footer — the v2 container layout. ``columns`` maps
    name -> python list | numpy | pandas Series | pyarrow array."""
    names = [f.name for f in fields]
    if set(names) != set(columns):
        raise LanceLiteError("schema fields != provided columns")
    arrays = {f.name: _to_arrow_column(f, columns[f.name]) for f in fields}
    n_rows = len(arrays[names[0]]) if names else 0
    for c in names:
        if len(arrays[c]) != n_rows:
            raise LanceLiteError("ragged columns")

    out = bytearray()
    col_blobs: list[bytes] = []
    for f in fields:
        pages = []
        arr = arrays[f.name]
        for start in range(0, max(n_rows, 1), rows_per_page):
            m = min(rows_per_page, n_rows - start) if n_rows else 0
            if m == 0 and n_rows:
                break
            bufs, enc, stats = _encode_page(f, arr.slice(start, m))
            offs, sizes = [], []
            for b in bufs:
                offs.append(len(out))
                sizes.append(len(b))
                out += b
            page = {
                "buffer_offsets": offs,
                "buffer_sizes": sizes,
                "length": m,
                "priority": start,
                "encoding": enc,
            }
            if stats is not None:
                page["stats"] = stats
            pages.append(page)
        col_blobs.append(_col_meta_to_bytes({"pages": pages}, f))

    # column metadata section + its offset table
    col_meta_start = len(out)
    cm_entries = []
    for blob in col_blobs:
        cm_entries.append((len(out), len(blob)))
        out += blob
    col_meta_offsets_start = len(out)
    for off, size in cm_entries:
        out += _U64PAIR.pack(off, size)

    # global buffer 0: file descriptor (schema + row count)
    descriptor = _descriptor_to_bytes(fields, n_rows)
    gb_entries = [(len(out), len(descriptor))]
    out += descriptor
    global_buff_offsets_start = len(out)
    for off, size in gb_entries:
        out += _U64PAIR.pack(off, size)

    out += FOOTER.pack(
        col_meta_start,
        col_meta_offsets_start,
        global_buff_offsets_start,
        len(gb_entries),
        len(fields),
        MAJOR,
        MINOR,
        MAGIC,
    )
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(out)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# file reader
# --------------------------------------------------------------------------
def read_schema(path: str) -> tuple[list[Field], int]:
    """Schema + row count from the file descriptor (global buffer 0) —
    a footer + descriptor read, no data pages touched."""
    with open(path, "rb") as fh:
        data = fh.read()
    return _parse_descriptor(data)


def _parse_footer(data: bytes):
    if len(data) < FOOTER.size:
        raise LanceLiteError("file shorter than the 40-byte footer")
    (
        col_meta_start,
        col_meta_offsets_start,
        global_buff_offsets_start,
        num_global,
        num_cols,
        major,
        minor,
        magic,
    ) = FOOTER.unpack(data[-FOOTER.size:])
    if magic != MAGIC:
        raise LanceLiteError(f"bad magic {magic!r} (want {MAGIC!r})")
    if (major, minor) != (MAJOR, MINOR):
        raise LanceLiteError(
            f"unsupported Lance file version {major}.{minor} "
            f"(lancelite reads the stable 2.0 layout, stored as 0.3)"
        )
    return (
        col_meta_start,
        col_meta_offsets_start,
        global_buff_offsets_start,
        num_global,
        num_cols,
    )


def _parse_descriptor(data: bytes) -> tuple[list[Field], int]:
    _, _, gb_start, num_global, _ = _parse_footer(data)
    if num_global < 1:
        raise LanceLiteError("no global buffers: missing file descriptor")
    off, size = _U64PAIR.unpack_from(data, gb_start)
    return _descriptor_from_bytes(data[off:off + size])


def _read_file_arrays(
    path: str,
    columns: list[str] | None = None,
    range_filter: dict[str, tuple] | None = None,
):
    """Decode a .lance file into pyarrow arrays. With ``columns``, this
    is a PROJECTED read: only the footer + metadata tail and the SELECTED
    columns' page buffers are ever read from disk (seek-based) — IO stays
    proportional to the projection, the property that makes a columnar
    layout worth having. Unselected columns' bytes are never touched.

    ``range_filter`` = {col: (lo, hi)} additionally prunes PAGES via the
    writer's zone maps: every column shares the same page row-ranges
    (rows_per_page slicing), so a page whose stats are disjoint with the
    range drops the whole row stripe across all selected columns and
    its bytes are never read. Pages without stats (strings, null-only)
    are kept — pruning never loses a matching row; callers still apply
    the exact row filter downstream (zone maps are a superset contract,
    like parquet row-group skipping)."""
    import pyarrow as pa

    with open(path, "rb") as fh:
        fh.seek(0, 2)
        fsize = fh.tell()
        if fsize < FOOTER.size:
            raise LanceLiteError("file shorter than the 40-byte footer")
        fh.seek(fsize - FOOTER.size)
        footer = fh.read(FOOTER.size)
        # parse the footer standalone, then pull the metadata TAIL
        # (everything from col_meta_start on: column metadata blobs,
        # offset tables, global buffers, footer) in one read
        (
            cm_start,
            cm_off_start,
            gb_start,
            n_gb,
            num_cols,
        ) = _parse_footer(footer)
        if cm_start > fsize:
            raise LanceLiteError("column metadata offset out of range")
        fh.seek(cm_start)
        tail = fh.read(fsize - cm_start)

        def _tail(off: int, size: int) -> bytes:
            if not (cm_start <= off and off + size <= fsize):
                raise LanceLiteError("metadata offsets out of range")
            return tail[off - cm_start:off - cm_start + size]

        # descriptor lives in the tail (written after the data pages)
        if n_gb < 1:
            raise LanceLiteError("no global buffers: missing file descriptor")
        d_off, d_size = _U64PAIR.unpack_from(_tail(gb_start, 16), 0)
        fields, n_rows = _descriptor_from_bytes(_tail(d_off, d_size))
        if len(fields) != num_cols:
            raise LanceLiteError(
                "descriptor field count != footer num_columns"
            )
        if columns is not None:
            unknown = set(columns) - {f.name for f in fields}
            if unknown:
                raise LanceLiteError(f"unknown columns: {sorted(unknown)}")
            selected = [f for f in fields if f.name in set(columns)]
        else:
            selected = fields
        sel_names = {f.name for f in selected}

        def _col_meta(ci: int) -> dict:
            off, size = _U64PAIR.unpack_from(
                _tail(cm_off_start + 16 * ci, 16), 0
            )
            return parse_column_metadata(_tail(off, size))

        # zone-map pruning: page keep-set from the filter columns' stats
        # (page i covers the same row stripe in every column)
        keep_pages: set[int] | None = None
        if range_filter:
            unknown = set(range_filter) - {f.name for f in fields}
            if unknown:
                raise LanceLiteError(
                    f"unknown filter columns: {sorted(unknown)}"
                )
            for ci, f in enumerate(fields):
                if f.name not in range_filter:
                    continue
                lo, hi = range_filter[f.name]
                cm = _col_meta(ci)
                hits = set()
                for pi, page in enumerate(cm["pages"]):
                    st = page.get("stats")
                    if st is None or not (
                        (hi is not None and st["min"] > hi)
                        or (lo is not None and st["max"] < lo)
                    ):
                        hits.add(pi)
                keep_pages = (
                    hits if keep_pages is None else keep_pages & hits
                )
        out: dict[str, pa.Array] = {}
        for ci, f in enumerate(fields):
            if f.name not in sel_names:
                continue
            cm = _col_meta(ci)
            parts = []
            for pi, page in enumerate(cm["pages"]):
                if keep_pages is not None and pi not in keep_pages:
                    continue
                offs = page["buffer_offsets"]
                sizes = page["buffer_sizes"]
                if offs:
                    # one page's buffers are contiguous: single read
                    lo = min(offs)
                    hi = max(o + s for o, s in zip(offs, sizes))
                    fh.seek(lo)
                    blob = fh.read(hi - lo)
                    bufs = [
                        blob[o - lo:o - lo + s]
                        for o, s in zip(offs, sizes)
                    ]
                else:
                    bufs = []
                parts.append(
                    _decode_page(f, page["encoding"], bufs, page["length"])
                )
            arr = (
                pa.concat_arrays(parts)
                if parts
                else pa.array([], type=_pa_type(f))
            )
            if keep_pages is None and len(arr) != n_rows:
                raise LanceLiteError(
                    f"column {f.name}: {len(arr)} rows != descriptor "
                    f"{n_rows}"
                )
            out[f.name] = arr
    return selected, out


def read_file(
    path: str,
    columns: list[str] | None = None,
    range_filter: dict[str, tuple] | None = None,
) -> tuple[list[Field], dict[str, list]]:
    """Python-list facade over :func:`_read_file_arrays` (same projection
    + zone-map contracts); the Spark read path consumes the arrays
    directly and never pays this conversion."""
    fields, arrays = _read_file_arrays(path, columns, range_filter)
    return fields, {name: arr.to_pylist() for name, arr in arrays.items()}


# --------------------------------------------------------------------------
# dataset layer: <base>/data/*.lance
# --------------------------------------------------------------------------
def dataset_files(location: str) -> list[str]:
    ddir = os.path.join(location, "data")
    root = ddir if os.path.isdir(ddir) else location
    files = sorted(
        os.path.join(root, f)
        for f in os.listdir(root)
        if f.endswith(".lance")
    )
    if not files:
        raise LanceLiteError(f"no .lance data files under {location}")
    return files


def write_dataset(
    location: str,
    fields: list[Field],
    columns: dict,
    max_rows_per_file: int = 1 << 20,
) -> list[str]:
    os.makedirs(os.path.join(location, "data"), exist_ok=True)
    names = [f.name for f in fields]
    arrays = {f.name: _to_arrow_column(f, columns[f.name]) for f in fields}
    n = len(arrays[names[0]]) if names else 0
    paths = []
    frag = 0
    for start in range(0, max(n, 1), max_rows_per_file):
        m = min(max_rows_per_file, n - start) if n else 0
        shard = {c: arrays[c].slice(start, m) for c in names}
        p = os.path.join(location, "data", f"{frag:06d}.lance")
        write_file(p, fields, shard)
        paths.append(p)
        frag += 1
    return paths


def _spark_type(f: Field):
    from pyspark.sql import types as T

    m = {
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        "float32": T.FloatType(),
        "float64": T.DoubleType(),
        "utf8": T.StringType(),
    }
    if f.type == "fsl_float32":
        return T.ArrayType(T.FloatType(), containsNull=False)
    return m[f.type]


def read_dataset(
    spark, location: str, meta: dict | None = None,
    columns: list[str] | None = None,
    range_filter: dict[str, tuple] | None = None,
):
    """The generic-table read adapter (register_lance_reader signature):
    one footer read on the driver for the schema, then one task per data
    file decodes its shard executor-side via mapInPandas — the same
    scale shape as a native DataSource (no file bytes ever cross the
    driver). ``columns`` is the projection hook: executors then seek-read
    ONLY the selected columns' buffers, so IO tracks the projection
    (read_file's contract). ``range_filter`` = {col: (lo, hi)} pushes
    page skipping down to the zone maps AND applies the exact residual
    filter vectorized in Arrow, so the returned frame contains exactly
    the matching rows while excluded stripes' bytes are never read."""
    import pyarrow as pa
    from pyspark.sql import types as T

    files = dataset_files(location)
    all_fields, _ = read_schema(files[0])
    if columns is None:
        fields = all_fields
    else:
        unknown = set(columns) - {f.name for f in all_fields}
        if unknown:
            raise LanceLiteError(f"unknown columns: {sorted(unknown)}")
        fields = [f for f in all_fields if f.name in set(columns)]
    schema = T.StructType(
        [T.StructField(f.name, _spark_type(f), f.nullable) for f in fields]
    )
    names = [f.name for f in fields]

    read_cols = names
    if range_filter:
        # filter columns must decode for the exact residual filter even
        # when projected out of the result
        read_cols = sorted(set(names) | set(range_filter))

    expect = [
        f.to_json() for f in all_fields if f.name in set(read_cols)
    ]

    def decode(batches):
        import pyarrow.compute as pc

        for pdf in batches:
            for path in pdf["path"]:
                fs, cols = _read_file_arrays(
                    path, columns=read_cols, range_filter=range_filter
                )
                if [f.to_json() for f in fs] != expect:
                    raise LanceLiteError(
                        f"{path}: schema differs from the dataset schema"
                    )
                if range_filter:
                    mask = None
                    for c, (lo, hi) in range_filter.items():
                        m = pc.is_valid(cols[c])
                        if lo is not None:
                            m = pc.and_(
                                m, pc.greater_equal(cols[c], lo)
                            )
                        if hi is not None:
                            m = pc.and_(m, pc.less_equal(cols[c], hi))
                        mask = m if mask is None else pc.and_(mask, m)
                    mask = pc.fill_null(mask, False)
                    cols = {
                        c: pc.filter(v, mask) for c, v in cols.items()
                    }
                yield pa.table(
                    {name: cols[name] for name in names}
                ).to_pandas()

    paths = local_df(spark, 
        [(p,) for p in files], "path string"
    ).repartition(len(files), "path")
    return paths.mapInPandas(decode, schema=schema)


def fields_from_spark_schema(schema, dims: dict[str, int]) -> list[Field]:
    """Map a Spark StructType onto lancelite fields. ``dims`` supplies the
    fixed dimension for every array<float> column (Spark schemas don't
    carry list lengths; Lance fixed_size_list does)."""
    from pyspark.sql import types as T

    out: list[Field] = []
    for f in schema.fields:
        t = f.dataType
        if isinstance(t, T.LongType):
            ty, dim = "int64", 0
        elif isinstance(t, T.IntegerType):
            ty, dim = "int32", 0
        elif isinstance(t, T.FloatType):
            ty, dim = "float32", 0
        elif isinstance(t, T.DoubleType):
            ty, dim = "float64", 0
        elif isinstance(t, T.StringType):
            ty, dim = "utf8", 0
        elif isinstance(t, T.ArrayType) and isinstance(
            t.elementType, T.FloatType
        ):
            if f.name not in dims:
                raise LanceLiteError(
                    f"array<float> column {f.name!r} needs a dim entry"
                )
            ty, dim = "fsl_float32", dims[f.name]
        else:
            raise LanceLiteError(
                f"unsupported Spark type for lancelite: {f.name}: {t}"
            )
        out.append(Field(f.name, ty, f.nullable, dim))
    return out


def write_dataset_spark(df, location: str, dims: dict[str, int] | None = None):
    """Distributed lancelite sink: every partition writes its own
    ``data/part-*.lance`` file EXECUTOR-SIDE (mapInPandas), so nothing
    but the resulting file list crosses the driver — the write-path twin
    of :func:`read_dataset`. Columns convert pandas -> Arrow in one
    vectorized pass per batch. Returns the written paths."""
    import os as _os
    import uuid as _uuid

    import pandas as pd

    dims = dims or {}
    fields = fields_from_spark_schema(df.schema, dims)
    _os.makedirs(_os.path.join(location, "data"), exist_ok=True)

    def sink(batches):
        import pyarrow as pa

        chunks: dict[str, list] = {f.name: [] for f in fields}
        got = 0
        for pdf in batches:
            if not len(pdf):
                continue
            got += len(pdf)
            for f in fields:
                chunks[f.name].append(
                    pa.Array.from_pandas(pdf[f.name], type=_pa_type(f))
                )
        if not got:
            return
        arrays = {
            name: pa.concat_arrays(parts) for name, parts in chunks.items()
        }
        p = _os.path.join(
            location, "data", f"part-{_uuid.uuid4().hex}.lance"
        )
        write_file(p, fields, arrays)
        yield pd.DataFrame({"path": [p]})

    return [
        r.path
        for r in df.mapInPandas(sink, schema="path string").collect()
    ]


__all__ = [
    "Field",
    "LanceLiteError",
    "write_file",
    "read_file",
    "read_schema",
    "write_dataset",
    "dataset_files",
    "read_dataset",
    "parse_column_metadata",
    "MAGIC",
    "MAJOR",
    "MINOR",
]
