"""Iceberg v2 Avro manifest files and manifest lists.

Encodes each committed snapshot's file inventory in the PUBLIC Iceberg
table-spec binary layout (spec sections "Manifests", "Manifest Lists",
and "Appendix D: Single-value serialization"; the reference serves these
same structures through iceberg-rust —
crates/iceberg-ext/src/spec/mod.rs re-exports Manifest/ManifestList):

  - a snapshot's ``manifest-list`` is an Avro OCF of ``manifest_file``
    records (field-ids 500-519), one row per manifest;
  - each manifest is an Avro OCF of ``manifest_entry`` records
    (status/snapshot_id/sequence numbers + the ``data_file`` struct r2,
    field-ids 100-143), with the partition tuple as a typed record
    (r102) and column bounds in single-value binary serialization;
  - data files and delete files land in SEPARATE manifests
    (``content`` 0 vs 1) as the spec requires.

A snapshot holds only the descriptors of its manifests. Each manifest
OCF carries the spec records (the interop surface a stock Iceberg
reader parses) and, in its header, the engine's lossless JSON entry
list, the authoritative copy icelite reads. format/avro.py is the
clean-room Avro encoder they ride on.
"""

from __future__ import annotations

import struct
from typing import Any

from .avro import read_ocf, write_ocf

# --------------------------------------------------------------- schemas
_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None, "field-id": 511},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY, "element-id": 508}],
            "default": None,
            "field-id": 507,
        },
        {"name": "key_metadata", "type": ["null", "bytes"], "default": None, "field-id": 519},
    ],
}


def _kv_map(name: str, key_id: int, value_id: int, value_type: str) -> dict[str, Any]:
    """Iceberg encodes int-keyed maps as arrays of key/value records
    (Avro maps only take string keys) — spec 'Manifests' column notes."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
        "logicalType": "map",
    }


def _data_file_schema(partition_fields: list[dict[str, Any]]) -> dict[str, Any]:
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {"type": "record", "name": "r102", "fields": partition_fields},
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "lower_bounds",
                "type": ["null", _kv_map("k126_v127", 126, 127, "bytes")],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _kv_map("k129_v130", 129, 130, "bytes")],
                "default": None,
                "field-id": 128,
            },
            {"name": "key_metadata", "type": ["null", "bytes"], "default": None, "field-id": 131},
            {
                "name": "split_offsets",
                "type": ["null", {"type": "array", "items": "long", "element-id": 133}],
                "default": None,
                "field-id": 132,
            },
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
                "default": None,
                "field-id": 135,
            },
            {"name": "sort_order_id", "type": ["null", "int"], "default": None, "field-id": 140},
            # v3 deletion-vector addressing (spec fields 143-145): the
            # referenced data file plus the blob's position inside the
            # Puffin container — external v3 readers locate and apply a
            # DV from exactly these three fields
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
                "field-id": 143,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
                "field-id": 144,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
                "field-id": 145,
            },
        ],
    }


def manifest_entry_schema(partition_fields: list[dict[str, Any]]) -> dict[str, Any]:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": _data_file_schema(partition_fields), "field-id": 2},
        ],
    }


# --------------------------------------- single-value binary serialization
def single_value_bytes(iceberg_type: Any, value: Any) -> bytes | None:
    """Spec Appendix D single-value serialization: fixed-width
    little-endian for numerics (int/date 4 bytes, long/timestamps 8,
    float 4, double 8), UTF-8 bytes for strings, 0x00/0x01 booleans.
    Returns None for types/values the engine doesn't bound-track."""
    if value is None or not isinstance(iceberg_type, str):
        return None
    t = iceberg_type
    try:
        if t == "boolean":
            return b"\x01" if value else b"\x00"
        if t in ("int", "date"):
            return struct.pack("<i", int(value))
        if t in ("long", "timestamp", "timestamptz", "time", "bigint"):
            return struct.pack("<q", int(value))
        if t == "float":
            return struct.pack("<f", float(value))
        if t == "double":
            return struct.pack("<d", float(value))
        if t in ("string", "varchar"):
            return str(value).encode("utf-8")
    except (ValueError, OverflowError, struct.error):
        return None
    return None


def single_value_load(iceberg_type: Any, raw: bytes | None) -> Any:
    if raw is None or not isinstance(iceberg_type, str):
        return None
    t = iceberg_type
    if t == "boolean":
        return raw == b"\x01"
    if t in ("int", "date"):
        return struct.unpack("<i", raw)[0]
    if t in ("long", "timestamp", "timestamptz", "time", "bigint"):
        return struct.unpack("<q", raw)[0]
    if t == "float":
        return struct.unpack("<f", raw)[0]
    if t == "double":
        return struct.unpack("<d", raw)[0]
    if t in ("string", "varchar"):
        return raw.decode("utf-8")
    return None


# ----------------------------------------------------------- construction
_CONTENT_OF = {  # engine entry `content` -> data_file.content (spec)
    None: 0,
    "data": 0,
    "position-deletes": 1,
    "deletion-vectors": 1,
    "equality-deletes": 2,
}


def _partition_avro_fields(
    spec: dict[str, Any], schema: dict[str, Any]
) -> tuple[list[dict[str, Any]], dict[str, str]]:
    """r102 fields for the table's partition spec; values are typed where
    the transform's result type is knowable (identity -> source type,
    bucket -> int), falling back to string (hive dir names are strings)."""
    by_id = {f["id"]: f["type"] for f in schema.get("fields", [])}
    fields, types = [], {}
    for pf in spec.get("fields", []):
        tf = pf.get("transform", "identity")
        src = by_id.get(pf.get("source-id"))
        if tf == "identity" and isinstance(src, str) and src in ("int", "long", "date"):
            avro_t = "int" if src in ("int", "date") else "long"
        elif tf.startswith("bucket"):
            avro_t = "int"
        else:
            avro_t = "string"
        name = pf.get("name") or pf.get("source-name") or f"p{pf.get('field-id', 1000)}"
        fields.append(
            {
                "name": name,
                "type": ["null", avro_t],
                "default": None,
                "field-id": pf.get("field-id", 1000),
            }
        )
        types[name] = avro_t
    return fields, types


def _typed_partition(
    partition: dict[str, Any], types: dict[str, str]
) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for name, avro_t in types.items():
        v = partition.get(name)
        if v is None:
            out[name] = None
        elif avro_t in ("int", "long"):
            try:
                out[name] = int(v)
            except (TypeError, ValueError):
                out[name] = None
        else:
            out[name] = str(v)
    return out


def _entry_record(
    e: dict[str, Any],
    snapshot: dict[str, Any],
    schema: dict[str, Any],
    ptypes: dict[str, str],
    seq_to_sid: dict[int, int] | None = None,
) -> dict[str, Any]:
    by_name = {f["name"]: (f["id"], f["type"]) for f in schema.get("fields", [])}
    lowers, uppers = [], []
    for col, (lo, hi) in sorted((e.get("bounds") or {}).items()):
        fid, ftype = by_name.get(col, (None, None))
        if fid is None:
            continue
        lb, ub = single_value_bytes(ftype, lo), single_value_bytes(ftype, hi)
        if lb is not None and ub is not None:
            lowers.append({"key": fid, "value": lb})
            uppers.append({"key": fid, "value": ub})
    seq = e.get("sequence-number", snapshot["sequence-number"])
    return {
        "status": 1 if seq == snapshot["sequence-number"] else 0,  # added | existing
        # existing (carried-forward) entries keep the snapshot that ADDED
        # them (resolved via their commit sequence number) — incremental/
        # CDC readers attribute files by this field
        "snapshot_id": (seq_to_sid or {}).get(seq, snapshot["snapshot-id"]),
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": _CONTENT_OF.get(e.get("content"), 0),
            "file_path": e["path"],
            # v3 deletion vectors live in Puffin containers, not parquet
            "file_format": (
                "PUFFIN" if e.get("content") == "deletion-vectors" else "PARQUET"
            ),
            "partition": _typed_partition(e.get("partition") or {}, ptypes),
            "record_count": e.get("record-count", 0),
            "file_size_in_bytes": e.get("file-size-in-bytes", 0),
            "lower_bounds": lowers or None,
            "upper_bounds": uppers or None,
            "key_metadata": None,
            "split_offsets": None,
            "equality_ids": e.get("equality-ids") or None,
            "sort_order_id": None,
            "referenced_data_file": None,
            "content_offset": None,
            "content_size_in_bytes": None,
        },
    }


def _dv_entry_records(
    base: dict[str, Any], e: dict[str, Any]
) -> list[dict[str, Any]]:
    """Expand a deletion-vector entry into ONE manifest record per blob
    (per referenced data file), populating spec fields 143/144/145 from
    the Puffin container layout the writer recorded (``dv-blobs``:
    {referenced file: [offset, length, cardinality]}). Entries written
    before the layout was tracked fall back to a single container-level
    record with null addressing fields."""
    blobs = e.get("dv-blobs")
    if not blobs:
        return [base]
    out = []
    for fp, (offset, length, card) in sorted(blobs.items()):
        rec = dict(base)
        rec["data_file"] = {
            **base["data_file"],
            "record_count": int(card),
            "referenced_data_file": fp,
            "content_offset": int(offset),
            "content_size_in_bytes": int(length),
        }
        out.append(rec)
    return out


# ------------------------------------------------ out-of-line manifest store
#
# Snapshots do not embed their file inventory in the table metadata
# JSON. Each snapshot carries a small ``manifests`` DESCRIPTOR
# list; the entries themselves live in immutable Avro manifest OCFs that
# UNCHANGED commits reference without rewriting (real Iceberg's shape:
# an append writes ONE new manifest and a manifest list that points at
# the parent's manifests untouched — the reference catalog's normalized
# metadata layout has the same intent,
# migrations/20241106201139_split_table_metadata.sql:39-167). Each OCF
# holds the spec manifest_entry records (the interop surface a stock
# reader parses) plus the engine's LOSSLESS JSON entry list in the OCF
# header metadata key ``icelite.entries`` (Avro file metadata is an
# open map; readers ignore keys they don't know — public Avro 1.11
# spec, "Object Container Files"). Descriptors carry the manifest-file
# summaries the planner prunes on (partition value sets, column bounds,
# counts, sequence numbers) so a point query can skip WHOLE manifests
# without opening them.

ENGINE_ENTRIES_KEY = "icelite.entries"

#: distinct partition values per field above which the descriptor stops
#: summarizing that field (a high-cardinality partition summary would
#: bloat the metadata blob for no pruning win — bounds still apply)
_PARTITION_SUMMARY_CAP = 16

_CONTENT_KIND = {  # engine entry `content` -> manifest content kind
    None: "data",
    "data": "data",
    "position-deletes": "deletes",
    "deletion-vectors": "deletes",
    "equality-deletes": "deletes",
}


def _manifest_summaries(
    entries: list[dict[str, Any]],
) -> tuple[dict[str, list[str]] | None, dict[str, list[Any]] | None]:
    """(partition value sets, aggregated column bounds) over ``entries``
    — both CONSERVATIVE: a field/column is summarized only when every
    entry contributes a comparable value, so a missing summary keeps the
    manifest (never wrongly skipped), same contract as the entry-level
    _bounds_overlap."""
    parts: dict[str, set[str]] = {}
    for e in entries:
        for k, v in (e.get("partition") or {}).items():
            parts.setdefault(k, set()).add(str(v))
    part_summary = {
        k: sorted(vals)
        for k, vals in parts.items()
        if len(vals) <= _PARTITION_SUMMARY_CAP
        # only fields present in EVERY entry discriminate safely (an
        # entry without the field matches any filter value via "None")
        and all(k in (e.get("partition") or {}) for e in entries)
    } or None
    bounds: dict[str, list[Any]] | None = {}
    for e in entries:
        eb = e.get("bounds") or {}
        if not eb:
            bounds = None
            break
        if not bounds:  # first entry seeds the candidate column set
            bounds = {c: list(b) for c, b in eb.items()}
            continue
        for c in list(bounds):
            b = eb.get(c)
            if b is None:
                bounds.pop(c)
                continue
            try:
                bounds[c] = [min(bounds[c][0], b[0]), max(bounds[c][1], b[1])]
            except TypeError:  # mixed types across files: not summarizable
                bounds.pop(c)
    return part_summary, (bounds or None)


def descriptor_keep(
    d: dict[str, Any],
    partition_filter: dict[str, Any] | None = None,
    stats_filter: dict[str, tuple] | None = None,
) -> bool:
    """Manifest-level pruning: False only when the descriptor's summary
    PROVES no entry can match (absent summaries keep the manifest)."""
    if partition_filter:
        parts = d.get("partitions")
        if parts:
            for k, v in partition_filter.items():
                vals = parts.get(k)
                if vals is not None and str(v) not in vals:
                    return False
    if stats_filter:
        bounds = d.get("bounds") or {}
        for col, (lo, hi) in stats_filter.items():
            b = bounds.get(col)
            if b is None:
                continue
            if (hi is not None and b[0] > hi) or (lo is not None and b[1] < lo):
                return False
    return True


def write_manifest_file(
    meta: dict[str, Any],
    entries: list[dict[str, Any]],
    snapshot_id: int,
    sequence_number: int,
    out_dir: str,
    seq_to_sid: dict[int, int] | None = None,
) -> dict[str, Any]:
    """Write ONE immutable Avro manifest OCF for ``entries`` (uniform
    content kind — all data or all deletes) and return its descriptor.
    The OCF body is the spec manifest_entry records; the OCF header
    metadata carries the engine's lossless JSON entry list. Cost is
    O(len(entries)) — the commit path calls this only for NEW or
    rewritten manifests, never for carried ones."""
    import json as _json
    import os
    import uuid as _uuid

    kinds = {_CONTENT_KIND.get(e.get("content"), "data") for e in entries}
    if len(kinds) != 1:
        raise ValueError(f"manifest content must be uniform, got {sorted(kinds)}")
    kind = kinds.pop()
    if kind == "data":
        # v3 row-id inheritance charges null-id files by record-count; a
        # missing count would default to 0 and make the NEXT file's
        # range overlap this one's
        bad = next(
            (
                e
                for e in entries
                if e.get("first-row-id") is None
                and e.get("record-count") is None
            ),
            None,
        )
        if bad is not None:
            raise ValueError(
                f"data file {bad.get('path')!r} has no record-count — "
                "row-id range assignment requires it"
            )
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    spec = next(
        (s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]),
        {"spec-id": 0, "fields": []},
    )
    pfields, ptypes = _partition_avro_fields(spec, schema)
    pseudo_snap = {"snapshot-id": snapshot_id, "sequence-number": sequence_number}
    records = [
        rec
        for e in entries
        for rec in _dv_entry_records(
            _entry_record(e, pseudo_snap, schema, ptypes, seq_to_sid), e
        )
    ]
    os.makedirs(out_dir, exist_ok=True)
    mpath = os.path.join(
        out_dir, f"mf-{0 if kind == 'data' else 1}-{_uuid.uuid4().hex[:12]}.avro"
    )
    write_ocf(
        mpath,
        manifest_entry_schema(pfields),
        records,
        metadata={
            "schema-id": str(meta["current-schema-id"]),
            "partition-spec-id": str(spec["spec-id"]),
            "format-version": str(meta.get("format-version", 2)),
            "content": kind if kind == "data" else "deletes",
            ENGINE_ENTRIES_KEY: _json.dumps(entries, separators=(",", ":")),
        },
    )
    seqs = [e.get("sequence-number", sequence_number) for e in entries]
    # same default as _entry_record's status: a seq-less entry counts as
    # added AT THIS COMMIT, so list counts always agree with the records
    added = [
        e for e in entries if e.get("sequence-number", sequence_number) == sequence_number
    ]
    existing = [
        e for e in entries if e.get("sequence-number", sequence_number) != sequence_number
    ]
    parts, bounds = _manifest_summaries(entries)
    # the spec manifest_file counts describe the manifest's RECORDS —
    # which differ from engine entries when a DV container expands into
    # one record per referenced file (fields 143-145); the engine-count
    # keys feed metadata tables, the records-* keys feed the Avro list
    r_added = [r for r in records if r["status"] == 1]
    r_existing = [r for r in records if r["status"] == 0]
    desc: dict[str, Any] = {
        "path": mpath,
        "length": os.path.getsize(mpath),
        "content": kind,
        # the spec this manifest's partition tuples were WRITTEN under —
        # carried into every later manifest list so readers decode old
        # manifests with the right spec after partition evolution
        "partition-spec-id": spec["spec-id"],
        "added-snapshot-id": snapshot_id,
        "sequence-number": sequence_number,
        "min-sequence-number": min(seqs, default=sequence_number),
        "added-files-count": len(added),
        "existing-files-count": len(existing),
        "added-rows-count": sum(e.get("record-count", 0) for e in added),
        "existing-rows-count": sum(e.get("record-count", 0) for e in existing),
    }
    if len(r_added) != len(added) or len(r_existing) != len(existing):
        desc["records-added"] = len(r_added)
        desc["records-existing"] = len(r_existing)
        desc["records-added-rows"] = sum(
            r["data_file"]["record_count"] for r in r_added
        )
        desc["records-existing-rows"] = sum(
            r["data_file"]["record_count"] for r in r_existing
        )
    if kind == "data":
        # rows whose first-row-id the commit engine must still assign
        # (v3 lazy inheritance — the engine advances next-row-id by this
        # without ever opening the manifest)
        desc["null-id-rows"] = sum(
            int(e.get("record-count", 0))
            for e in entries
            if e.get("first-row-id") is None
        )
    if parts:
        desc["partitions"] = parts
    if bounds:
        desc["bounds"] = bounds
    return desc


def write_manifest_list_file(
    meta: dict[str, Any],
    snapshot_id: int,
    sequence_number: int,
    descriptors: list[dict[str, Any]],
    out_dir: str,
) -> str:
    """The snapshot's spec manifest-list OCF: one manifest_file record
    per descriptor (carried manifests appear by their ORIGINAL path —
    the reuse a stock reader expects)."""
    import os
    import uuid as _uuid

    rows = [
        {
            "manifest_path": d["path"],
            "manifest_length": d["length"],
            "partition_spec_id": d.get(
                "partition-spec-id", meta.get("default-spec-id", 0)
            ),
            "content": 0 if d["content"] == "data" else 1,
            "sequence_number": d.get("sequence-number", sequence_number),
            "min_sequence_number": d.get(
                "min-sequence-number", d.get("sequence-number", sequence_number)
            ),
            "added_snapshot_id": d.get("added-snapshot-id", snapshot_id),
            # record-level counts when they differ from engine-entry
            # counts (DV per-blob expansion) — the spec manifest_file
            # fields describe the manifest's records
            "added_files_count": d.get(
                "records-added", d.get("added-files-count", 0)
            ),
            "existing_files_count": d.get(
                "records-existing", d.get("existing-files-count", 0)
            ),
            "deleted_files_count": 0,
            "added_rows_count": d.get(
                "records-added-rows", d.get("added-rows-count", 0)
            ),
            "existing_rows_count": d.get(
                "records-existing-rows", d.get("existing-rows-count", 0)
            ),
            "deleted_rows_count": 0,
            "partitions": None,
            "key_metadata": None,
        }
        for d in descriptors
    ]
    os.makedirs(out_dir, exist_ok=True)
    list_path = os.path.join(
        out_dir, f"snap-{snapshot_id}-{_uuid.uuid4().hex[:12]}.avro"
    )
    write_ocf(
        list_path,
        MANIFEST_FILE_SCHEMA,
        rows,
        metadata={
            "snapshot-id": str(snapshot_id),
            "sequence-number": str(sequence_number),
            "format-version": str(meta.get("format-version", 2)),
        },
    )
    return list_path


# Manifest files are IMMUTABLE (every write takes a fresh uuid name), so
# a process-wide LRU keyed by path is safe; `_OPEN_COUNT` lets scorch
# tests assert how many manifests a plan actually opened.
_ENTRY_CACHE: dict[str, list[dict[str, Any]]] = {}
_ENTRY_CACHE_MAX = 512
_OPEN_COUNT = 0


def manifest_cache_clear() -> None:
    global _OPEN_COUNT
    _ENTRY_CACHE.clear()
    _OPEN_COUNT = 0


def manifest_open_count() -> int:
    return _OPEN_COUNT


def load_manifest_entries(path: str) -> list[dict[str, Any]]:
    """The manifest's lossless engine entries (the OCF metadata copy).
    Returned list and dicts are SHARED cache state — callers must not
    mutate them (overlay/materialization copies before writing)."""
    import json as _json

    global _OPEN_COUNT
    hit = _ENTRY_CACHE.get(path)
    if hit is not None:
        return hit
    _OPEN_COUNT += 1
    _, _, ocf_meta = read_ocf(path)
    raw = ocf_meta.get(ENGINE_ENTRIES_KEY)
    if raw is None:
        raise ValueError(f"{path}: not an icelite-written manifest (no engine entries)")
    entries = _json.loads(raw.decode())
    if len(_ENTRY_CACHE) >= _ENTRY_CACHE_MAX:
        _ENTRY_CACHE.pop(next(iter(_ENTRY_CACHE)))
    _ENTRY_CACHE[path] = entries
    return entries


def overlay_entries(
    desc: dict[str, Any], raw: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Materialize v3 first-row-id inheritance for one manifest: the
    descriptor's ``first-row-id`` (assigned by the commit engine at
    add-snapshot, O(manifests) work) seeds a running offset consumed by
    data entries that stored none — exactly the Iceberg v3 lazy
    assignment rule, scoped per manifest. Entries with an explicit id
    keep it and consume nothing. Copies entries it changes; shares the
    rest."""
    frid = desc.get("first-row-id")
    if frid is None or desc.get("content") != "data":
        return list(raw)
    out: list[dict[str, Any]] = []
    running = int(frid)
    for e in raw:
        if e.get("content", "data") == "data" and e.get("first-row-id") is None:
            e = {**e, "first-row-id": running}
            running += int(e.get("record-count", 0))
        out.append(e)
    return out


def manifest_entries(desc: dict[str, Any]) -> list[dict[str, Any]]:
    """The engine entries of the manifest ``desc`` names, with its v3
    first-row-id inheritance materialized (load + overlay)."""
    return overlay_entries(desc, load_manifest_entries(desc["path"]))


# ----------------------------------------------------------------- readers
def read_manifest_list(path: str) -> list[dict[str, Any]]:
    _, rows, _ = read_ocf(path)
    return rows


def read_manifest(path: str) -> list[dict[str, Any]]:
    _, rows, _ = read_ocf(path)
    return rows


def mirrors_inline(snapshot: dict[str, Any]) -> bool:
    """True when the snapshot's spec Avro manifest-list + manifest
    records decode to the same file inventory as the engine entries its
    manifests carry in their OCF headers (path, counts, sizes, sequence
    numbers, delete kind, equality ids, partition values)."""

    def key(e: dict[str, Any]):
        content = e.get("content")
        if content == "deletion-vectors":  # encoded as positional (content=1)
            content = "position-deletes"
        return (
            e["path"],
            e.get("record-count", 0),
            e.get("file-size-in-bytes", 0),
            e.get("sequence-number"),
            content,
            tuple(e.get("equality-ids") or []),
            # NULL partition values are dropped on BOTH sides (decoded
            # entries keep only non-None values)
            tuple(
                sorted(
                    (k, str(v))
                    for k, v in (e.get("partition") or {}).items()
                    if v is not None
                )
            ),
        )

    try:
        decoded = entries_from_manifest_list(snapshot["manifest-list"])
        engine = [e for d in snapshot.get("manifests", []) for e in manifest_entries(d)]
    except (OSError, ValueError, EOFError, KeyError):
        return False
    return sorted(key(e) for e in decoded) == sorted(key(e) for e in engine)


def entries_from_manifest_list(path: str) -> list[dict[str, Any]]:
    """Decode a manifest-list + its manifests' spec records back into
    ENGINE-shaped entries (path/record-count/content/equality-ids/
    partition), the inverse of write_manifest_file's record encoding —
    used to prove the Avro records carry the engine's inventory."""
    out = []
    dv_by_path: dict[str, dict[str, Any]] = {}
    for mf in read_manifest_list(path):
        for r in read_manifest(mf["manifest_path"]):
            df = r["data_file"]
            if df.get("referenced_data_file") is not None:
                # per-blob DV records (fields 143-145) collapse back to
                # one engine entry per Puffin container; cardinalities sum
                hit = dv_by_path.get(df["file_path"])
                if hit is not None:
                    hit["record-count"] += df["record_count"]
                    continue
            entry: dict[str, Any] = {
                "path": df["file_path"],
                "record-count": df["record_count"],
                "file-size-in-bytes": df["file_size_in_bytes"],
                "sequence-number": r["sequence_number"],
                "partition": {
                    k: (str(v) if v is not None else None)
                    for k, v in df["partition"].items()
                    if v is not None
                },
            }
            content = df["content"]
            if content == 2:
                entry["content"] = "equality-deletes"
                entry["equality-ids"] = df["equality_ids"]
            elif content == 1:
                entry["content"] = "position-deletes"
            if df.get("referenced_data_file") is not None:
                dv_by_path[df["file_path"]] = entry
            out.append(entry)
    return out
