"""TableUpdate / TableRequirement commit engine.

Re-implements the reference's `apply_commit`
(crates/lakekeeper/src/server/commit_tables.rs:34-128) over a plain-dict
TableMetadata: check every TableRequirement against current metadata, then
fold TableUpdates with Lakekeeper-specific guards:

  - AssignUuid must equal the current uuid (commit_tables.rs:75-84)
  - SetLocation must equal the current location (commit_tables.rs:85-93)
  - the `encryption.key-id` property is immutable once set
    (commit_tables.rs:16,94-106,259-297)
  - UpgradeFormatVersion is gated by the warehouse format-version policy
    (commit_tables.rs:22-31) and may never downgrade

All 24 TableUpdate variants (commit_tables.rs:130-156) and the 8
TableRequirement variants (iceberg-ext catalog/mod.rs:76-92) are handled.
A failed requirement raises CommitConflict — the engine-visible
CommitFailedException (commit_tables.rs:119).

TableMetadata dict shape (Iceberg TableMetadata JSON, camel-kebab per spec):
  table-uuid, format-version, location, last-sequence-number,
  last-updated-ms, last-column-id, schemas[], current-schema-id,
  partition-specs[], default-spec-id, last-partition-id, sort-orders[],
  default-sort-order-id, properties{}, snapshots[], current-snapshot-id,
  refs{name: {snapshot-id, type, ...retention}}, snapshot-log[],
  metadata-log[], statistics[], partition-statistics[], encryption-keys[]
"""

from __future__ import annotations

import time
from typing import Any

IMMUTABLE_PROPERTIES = ("encryption.key-id",)
MAIN_BRANCH = "main"


class CommitConflict(Exception):
    """Requirement failed -> 409 CommitFailedException in the reference."""


class CommitValidationError(Exception):
    """Malformed or forbidden update (400-class in the reference)."""


def _normalize_partition_fields(
    fields: list[dict[str, Any]], schema: dict[str, Any]
) -> list[dict[str, Any]]:
    """Carry BOTH spellings of the source column: ``source-id`` (the
    spec-required schema field id) and ``source-name`` (the engine's
    operational key for building Spark partition expressions). Either may
    be supplied; the other resolves from the schema."""
    by_name = {f["name"]: f["id"] for f in schema.get("fields", [])}
    by_id = {f["id"]: f["name"] for f in schema.get("fields", [])}
    out = []
    for f in fields:
        f = dict(f)
        f.setdefault("transform", "identity")
        if "source-id" not in f and f.get("source-name") in by_name:
            f["source-id"] = by_name[f["source-name"]]
        if "source-name" not in f and f.get("source-id") in by_id:
            f["source-name"] = by_id[f["source-id"]]
        if f.get("source-id") not in by_id:
            # a typo'd column, or an add-spec ordered before the
            # add-schema defining it: the reference 400s rather than
            # committing a spec with a dangling source
            # (server/commit_tables.rs update validation)
            raise CommitValidationError(
                "partition/sort field "
                f"{f.get('name') or f.get('source-name') or f.get('source-id')!r}"
                " references a column not present in the schema"
            )
        out.append(f)
    return out


def _normalize_sort_fields(
    fields: list[dict[str, Any]], schema: dict[str, Any]
) -> list[dict[str, Any]]:
    out = _normalize_partition_fields(fields, schema)
    for f in out:
        f.setdefault("direction", "asc")
        f.setdefault(
            "null-order", "nulls-first" if f["direction"] == "asc" else "nulls-last"
        )
    return out


def _current_schema_of(meta: dict[str, Any]) -> dict[str, Any]:
    return next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )


#: schema features introduced by Iceberg format v3 — rejected below it
_V3_ONLY_TYPES = frozenset(
    {"variant", "unknown", "timestamp_ns", "timestamptz_ns"}
)


#: snapshot keys of retired layouts: ``manifest`` was an inline entry
#: list, replaced by ``manifests`` descriptors over Avro manifest files
_RETIRED_SNAPSHOT_KEYS = frozenset({"manifest"})


#: Iceberg reserved metadata column names (MetadataColumns + the v3 row
#: lineage pair + the changelog view columns): a data column with one of
#: these names would shadow the engine-produced column in scans,
#: changelogs, and the positioned read path — Iceberg itself refuses
#: them at schema creation ("Cannot create column with reserved name"),
#: and so do we, at create-table and add-schema.
_RESERVED_COLUMN_NAMES = frozenset(
    {
        "_spec_id",
        "_partition",
        "_file",
        "_pos",
        "_deleted",
        "_row_id",
        "_last_updated_sequence_number",
        "_change_type",
        "_change_ordinal",
        "_commit_snapshot_id",
    }
)


def _check_reserved_column_names(
    schema: dict[str, Any], where: str, grandfathered: set[str] | None = None
) -> None:
    """Reject reserved metadata names — but only names NEW relative to
    ``grandfathered``: a pre-round-15 table that already carries e.g. a
    ``_file`` column must stay evolvable (adding unrelated columns can't
    suddenly fail on the legacy name it has always had)."""
    bad = sorted(
        f["name"]
        for f in schema.get("fields", [])
        if f.get("name") in _RESERVED_COLUMN_NAMES
        and f.get("name") not in (grandfathered or set())
    )
    if bad:
        raise CommitValidationError(
            f"{where}: cannot create column(s) with reserved metadata "
            f"name(s) {bad}"
        )


def _check_v3_only_schema_features(
    schema: dict[str, Any], format_version: int, where: str
) -> None:
    """Default values and the v3-only types (variant/unknown/nanosecond
    timestamps) are Iceberg v3 features; v1/v2 metadata must not carry
    them (the reference inherits the same rule from the iceberg lib)."""
    if format_version >= 3:
        return

    def _prims(t):
        if isinstance(t, str):
            yield t
        elif isinstance(t, dict):
            for k in ("element", "key", "value"):
                if k in t:
                    yield from _prims(t[k])
            for sf in t.get("fields", []):
                yield from _prims(sf.get("type"))

    def _defaulted(t):
        # a default can hide on a NESTED struct field — recurse the same
        # shapes _prims does for types
        if not isinstance(t, dict):
            return
        for k in ("element", "key", "value"):
            if k in t:
                yield from _defaulted(t[k])
        for sf in t.get("fields", []):
            if "initial-default" in sf or "write-default" in sf:
                yield sf.get("name")
            yield from _defaulted(sf.get("type"))

    for f in schema.get("fields", []):
        if "initial-default" in f or "write-default" in f:
            raise CommitValidationError(
                f"{where}: field {f.get('name')!r} carries a default "
                "value — defaults require format-version >= 3"
            )
        nested = next(_defaulted(f.get("type")), None)
        if nested is not None:
            raise CommitValidationError(
                f"{where}: nested field {nested!r} (inside "
                f"{f.get('name')!r}) carries a default value — defaults "
                "require format-version >= 3"
            )
        bad = _V3_ONLY_TYPES.intersection(_prims(f.get("type")))
        if bad:
            raise CommitValidationError(
                f"{where}: field {f.get('name')!r} uses {sorted(bad)} — "
                "these types require format-version >= 3"
            )


def new_table_metadata(
    table_uuid: str,
    location: str,
    schema: dict[str, Any],
    partition_spec: dict[str, Any] | None = None,
    sort_order: dict[str, Any] | None = None,
    properties: dict[str, str] | None = None,
    format_version: int = 2,
) -> dict[str, Any]:
    schema = dict(schema)
    schema.setdefault("schema-id", 0)
    schema.setdefault("type", "struct")  # Iceberg schemas ARE struct types
    _check_v3_only_schema_features(schema, format_version, "create-table")
    _check_reserved_column_names(schema, "create-table")
    spec = dict(partition_spec or {"spec-id": 0, "fields": []})
    spec["fields"] = _normalize_partition_fields(spec.get("fields", []), schema)
    order = dict(sort_order or {"order-id": 0, "fields": []})
    order["fields"] = _normalize_sort_fields(order.get("fields", []), schema)
    from ..format.types import max_field_id

    last_column_id = max_field_id(schema)  # includes nested element/key ids
    last_partition_id = max((f["field-id"] for f in spec.get("fields", [])), default=999)
    # v3 row lineage: next-row-id is REQUIRED table metadata from v3 on
    # (Iceberg v3 spec; the reference persists it per table —
    # lakekeeper-storage-postgres migrations/20250923102542_v3_support.sql)
    lineage = {"next-row-id": 0} if format_version >= 3 else {}
    return {
        **lineage,
        "format-version": format_version,
        "table-uuid": table_uuid,
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_column_id,
        "schemas": [schema],
        "current-schema-id": schema["schema-id"],
        "partition-specs": [spec],
        "default-spec-id": spec["spec-id"],
        "last-partition-id": last_partition_id,
        "sort-orders": [order],
        "default-sort-order-id": order["order-id"],
        "properties": dict(properties or {}),
        "snapshots": [],
        "current-snapshot-id": None,
        "refs": {},
        "snapshot-log": [],
        "metadata-log": [],
        "statistics": [],
        "partition-statistics": [],
        "encryption-keys": [],
    }


# ------------------------------------------------------------------
# requirements (assert-* variants per Iceberg REST spec)
# ------------------------------------------------------------------
def check_requirement(req: dict[str, Any], meta: dict[str, Any] | None) -> None:
    rtype = req.get("type")
    if rtype == "assert-create":
        if meta is not None:
            raise CommitConflict("assert-create: table already exists")
        return
    if meta is None:
        raise CommitConflict(f"{rtype}: table does not exist")
    if rtype == "assert-table-uuid":
        if str(req["uuid"]) != str(meta["table-uuid"]):
            raise CommitConflict(
                f"assert-table-uuid: expected {req['uuid']}, found {meta['table-uuid']}"
            )
    elif rtype == "assert-ref-snapshot-id":
        ref = meta.get("refs", {}).get(req["ref"])
        want = req.get("snapshot-id")
        have = ref["snapshot-id"] if ref else None
        if want != have:
            raise CommitConflict(
                f"assert-ref-snapshot-id: ref {req['ref']} expected {want}, found {have}"
            )
    elif rtype == "assert-current-schema-id":
        if req["current-schema-id"] != meta["current-schema-id"]:
            raise CommitConflict("assert-current-schema-id failed")
    elif rtype == "assert-last-assigned-field-id":
        if req["last-assigned-field-id"] != meta["last-column-id"]:
            raise CommitConflict("assert-last-assigned-field-id failed")
    elif rtype == "assert-last-assigned-partition-id":
        if req["last-assigned-partition-id"] != meta["last-partition-id"]:
            raise CommitConflict("assert-last-assigned-partition-id failed")
    elif rtype == "assert-default-spec-id":
        if req["default-spec-id"] != meta["default-spec-id"]:
            raise CommitConflict("assert-default-spec-id failed")
    elif rtype == "assert-default-sort-order-id":
        if req["default-sort-order-id"] != meta["default-sort-order-id"]:
            raise CommitConflict("assert-default-sort-order-id failed")
    else:
        raise CommitValidationError(f"unknown requirement type: {rtype}")


# ------------------------------------------------------------------
# updates
# ------------------------------------------------------------------
def apply_commit(
    meta: dict[str, Any],
    requirements: list[dict[str, Any]],
    updates: list[dict[str, Any]],
    max_format_version: int | None = None,
    allowed_format_versions: set[int] | frozenset[int] | None = None,
) -> dict[str, Any]:
    """Validate requirements then fold updates; returns NEW metadata dict.

    ``max_format_version`` is the warehouse format-version policy gate
    (reference: UpdateWarehouseFormatVersionPolicy, commit_tables.rs:22-31).
    ``allowed_format_versions`` is the v0.13 allowed-set form of the same
    policy (warehouse/mod.rs:257 — versions "that may be created in, or
    upgraded to"); when given, an upgrade target must be a member.

    Structural sharing: the result is a new top-level dict whose list and
    dict values are shallow copies, so everything below them — snapshots,
    schemas, specs, descriptors — is SHARED with ``meta``. A commit then
    costs CPU in proportion to its updates, not to the table's history,
    and ``meta`` is still never mutated. That holds only while every
    ``_apply_update`` branch keeps this invariant; it may:

      - assign top-level keys of the output;
      - append to, pop from, filter into a new list, or update a
        top-level container of the output (``snapshots``, ``refs``,
        ``properties``, ``snapshot-log`` ...);
      - mutate an object it has just ``_deep_copy``'d from the update
        payload (e.g. the v3 ``first-row-id`` stamps on the new
        snapshot's descriptors).

    It must never mutate an object reached through a top-level container
    (an existing snapshot, schema, ref or descriptor): replace it with a
    new object instead. Callers get the same contract: after the call,
    the objects below the top level belong to both documents.
    ``tests/test_commit_properties.py`` checks purity for every action.
    """
    for req in requirements:
        check_requirement(req, meta)
    out = {
        k: v.copy() if isinstance(v, (dict, list)) else v for k, v in meta.items()
    }
    for upd in updates:
        _apply_update(out, upd, max_format_version, allowed_format_versions)
    out["last-updated-ms"] = int(time.time() * 1000)
    return out


def _deep_copy(obj: Any) -> Any:
    import json

    return json.loads(json.dumps(obj))


def _schema_by_id(meta: dict[str, Any], schema_id: int) -> dict[str, Any] | None:
    return next((s for s in meta["schemas"] if s["schema-id"] == schema_id), None)


def _apply_update(  # noqa: C901 - intentionally a flat 24-way dispatch
    meta: dict[str, Any],
    upd: dict[str, Any],
    max_format_version: int | None,
    allowed_format_versions: set[int] | frozenset[int] | None = None,
) -> None:
    action = upd.get("action")
    if action == "assign-uuid":
        # Lakekeeper guard: only a no-op assign is legal (commit_tables.rs:75-84)
        if str(upd["uuid"]) != str(meta["table-uuid"]):
            raise CommitValidationError("assign-uuid: cannot change table uuid")
    elif action == "upgrade-format-version":
        target = int(upd["format-version"])
        if target < meta["format-version"]:
            raise CommitValidationError("cannot downgrade format-version")
        if max_format_version is not None and target > max_format_version:
            raise CommitValidationError(
                f"format-version {target} exceeds warehouse policy ({max_format_version})"
            )
        if allowed_format_versions is not None and target not in allowed_format_versions:
            raise CommitValidationError(
                f"format-version {target} not in warehouse policy"
                f" (allowed: {sorted(allowed_format_versions)})"
            )
        meta["format-version"] = target
        if target >= 3:
            # v3 requires next-row-id; on upgrade row-id assignment starts
            # at 0 — existing snapshots keep no first-row-id and their
            # files carry no row ids (assigned only from the next commit)
            meta.setdefault("next-row-id", 0)
    elif action == "add-schema":
        schema = _deep_copy(upd["schema"])
        schema.setdefault("type", "struct")  # Iceberg schemas ARE struct types
        _check_v3_only_schema_features(
            schema, meta.get("format-version", 2), "add-schema"
        )
        _check_reserved_column_names(
            schema,
            "add-schema",
            # names present in the CURRENT schema are grandfathered: the
            # check gates NEW columns only, so a legacy table predating
            # the rule stays evolvable (round-15 ADVICE) — but a
            # reserved name DROPPED in an earlier version cannot sneak
            # back in via the history
            grandfathered={
                f.get("name")
                for f in _current_schema_of(meta).get("fields", [])
            },
        )
        if schema.get("schema-id") is None or schema["schema-id"] == -1:
            schema["schema-id"] = max((s["schema-id"] for s in meta["schemas"]), default=-1) + 1
        if _schema_by_id(meta, schema["schema-id"]) is not None:
            # idempotent re-add of identical schema is allowed
            if _schema_by_id(meta, schema["schema-id"]) != schema:
                raise CommitValidationError(f"schema-id {schema['schema-id']} already exists")
        else:
            meta["schemas"].append(schema)
        from ..format.types import max_field_id

        meta["last-column-id"] = max(meta["last-column-id"], max_field_id(schema))
    elif action == "set-current-schema":
        sid = upd["schema-id"]
        if sid == -1:
            sid = max(s["schema-id"] for s in meta["schemas"])
        if _schema_by_id(meta, sid) is None:
            raise CommitValidationError(f"set-current-schema: unknown schema-id {sid}")
        meta["current-schema-id"] = sid
    elif action == "add-spec":
        spec = _deep_copy(upd["spec"])
        spec["fields"] = _normalize_partition_fields(
            spec.get("fields", []), _current_schema_of(meta)
        )
        if spec.get("spec-id") is None or spec["spec-id"] == -1:
            spec["spec-id"] = max((s["spec-id"] for s in meta["partition-specs"]), default=-1) + 1
        if any(s["spec-id"] == spec["spec-id"] for s in meta["partition-specs"]):
            raise CommitValidationError(f"spec-id {spec['spec-id']} already exists")
        meta["partition-specs"].append(spec)
        new_max = max((f["field-id"] for f in spec.get("fields", [])), default=meta["last-partition-id"])
        meta["last-partition-id"] = max(meta["last-partition-id"], new_max)
    elif action == "set-default-spec":
        sid = upd["spec-id"]
        if sid == -1:
            sid = max(s["spec-id"] for s in meta["partition-specs"])
        if not any(s["spec-id"] == sid for s in meta["partition-specs"]):
            raise CommitValidationError(f"set-default-spec: unknown spec-id {sid}")
        meta["default-spec-id"] = sid
    elif action == "add-sort-order":
        order = _deep_copy(upd["sort-order"])
        order["fields"] = _normalize_sort_fields(
            order.get("fields", []), _current_schema_of(meta)
        )
        if order.get("order-id") is None or order["order-id"] == -1:
            order["order-id"] = max((o["order-id"] for o in meta["sort-orders"]), default=-1) + 1
        if any(o["order-id"] == order["order-id"] for o in meta["sort-orders"]):
            raise CommitValidationError(f"order-id {order['order-id']} already exists")
        meta["sort-orders"].append(order)
    elif action == "set-default-sort-order":
        oid = upd["sort-order-id"]
        if oid == -1:
            oid = max(o["order-id"] for o in meta["sort-orders"])
        if not any(o["order-id"] == oid for o in meta["sort-orders"]):
            raise CommitValidationError(f"set-default-sort-order: unknown order-id {oid}")
        meta["default-sort-order-id"] = oid
    elif action == "add-snapshot":
        snap = _deep_copy(upd["snapshot"])
        retired = _RETIRED_SNAPSHOT_KEYS.intersection(snap)
        if retired:
            # an inline entry list is no longer read by anything: a
            # snapshot carrying one would plan as empty, so refuse it
            raise CommitValidationError(
                f"add-snapshot: {sorted(retired)} is not supported; a "
                "snapshot lists its files through `manifests` descriptors"
            )
        if any(s["snapshot-id"] == snap["snapshot-id"] for s in meta["snapshots"]):
            raise CommitValidationError(f"snapshot-id {snap['snapshot-id']} already exists")
        seq = snap.get("sequence-number")
        if seq is None:
            seq = meta["last-sequence-number"] + 1
            snap["sequence-number"] = seq
        meta["last-sequence-number"] = max(meta["last-sequence-number"], seq)
        snap.setdefault("timestamp-ms", int(time.time() * 1000))
        if meta.get("format-version", 2) >= 3:
            # v3 row lineage (Iceberg v3 spec): the snapshot claims the id
            # range [first-row-id, first-row-id + assigned rows); every
            # ADDED data file (no first-row-id yet) gets a running start
            # offset; carried-over entries keep the ids they were born
            # with. next-row-id then advances past the claimed range.
            base = meta.setdefault("next-row-id", 0)
            frid = snap.get("first-row-id")
            if frid is None:
                frid = base
                snap["first-row-id"] = frid
            elif frid < base:
                raise CommitValidationError(
                    f"add-snapshot: first-row-id {frid} is behind the "
                    f"table's next-row-id {base} (row-id ranges must not "
                    "overlap)"
                )
            # every data manifest whose files lack a first-row-id gets a
            # base id from its descriptor's ``null-id-rows`` count: both
            # files ADDED by this commit and files carried forward from a
            # pre-v3 parent (the spec directs writers to assign
            # first_row_id to data files lacking one whenever a new
            # manifest is written, so upgraded tables converge to non-null
            # _row_id without rewriting bytes). O(manifests) work with no
            # storage read, the v3 spec's manifest-list first_row_id
            # inheritance; per-entry materialization happens lazily at
            # read (iceberg_manifests.overlay_entries), so the same
            # manifest file read under the PARENT snapshot still yields
            # null ids and time travel is unaffected. Every assigned file
            # claims a range, including files that materialize some or
            # all row ids as a physical column (spec inheritance is PER
            # ROW: a null stored _row_id inherits first-row-id +
            # position, a non-null one wins; unused ids in a claimed
            # range are simply never observed).
            running = frid
            for d in snap.get("manifests", []):
                if d.get("content") != "data":
                    continue  # delete manifests carry no row ids
                if d.get("first-row-id") is not None:
                    continue  # carried: keeps its assigned base
                nid = int(d.get("null-id-rows", 0))
                if nid:
                    d["first-row-id"] = running
                    running += nid
            meta["next-row-id"] = max(base, running)
        meta["snapshots"].append(snap)
    elif action == "set-snapshot-ref":
        ref_name = upd["ref-name"]
        sid = upd["snapshot-id"]
        if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
            raise CommitValidationError(f"set-snapshot-ref: unknown snapshot-id {sid}")
        ref = {"snapshot-id": sid, "type": upd.get("type", "branch")}
        for k in ("min-snapshots-to-keep", "max-snapshot-age-ms", "max-ref-age-ms"):
            if upd.get(k) is not None:
                ref[k] = upd[k]
        meta["refs"][ref_name] = ref
        if ref_name == MAIN_BRANCH:
            meta["current-snapshot-id"] = sid
            snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
            meta["snapshot-log"].append(
                {"snapshot-id": sid, "timestamp-ms": snap.get("timestamp-ms")}
            )
    elif action == "remove-snapshots":
        ids = set(upd["snapshot-ids"])
        meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] not in ids]
        meta["snapshot-log"] = [e for e in meta["snapshot-log"] if e["snapshot-id"] not in ids]
        # refs to a removed snapshot go with it (Iceberg's TableMetadata
        # drops dangling refs on RemoveSnapshots)
        meta["refs"] = {
            n: r for n, r in meta["refs"].items() if r["snapshot-id"] not in ids
        }
        if meta["current-snapshot-id"] in ids:
            meta["current-snapshot-id"] = None
    elif action == "remove-snapshot-ref":
        meta["refs"].pop(upd["ref-name"], None)
        if upd["ref-name"] == MAIN_BRANCH:
            meta["current-snapshot-id"] = None
    elif action == "set-location":
        # Lakekeeper guard: location is immutable (commit_tables.rs:85-93)
        if upd["location"] != meta["location"]:
            raise CommitValidationError("set-location: cannot change table location")
    elif action == "set-properties":
        updates = upd.get("updates", {})
        for key in IMMUTABLE_PROPERTIES:
            if key in updates and meta["properties"].get(key) != updates[key]:
                if key in meta["properties"]:
                    raise CommitValidationError(f"property {key} is immutable")
        meta["properties"].update(updates)
    elif action == "remove-properties":
        removals = upd.get("removals", [])
        for key in IMMUTABLE_PROPERTIES:
            if key in removals and key in meta["properties"]:
                raise CommitValidationError(f"property {key} cannot be removed")
        for key in removals:
            meta["properties"].pop(key, None)
    elif action == "remove-partition-specs":
        ids = set(upd["spec-ids"])
        if meta["default-spec-id"] in ids:
            raise CommitValidationError("cannot remove the default partition spec")
        meta["partition-specs"] = [
            s for s in meta["partition-specs"] if s["spec-id"] not in ids
        ]
    elif action == "remove-schemas":
        ids = set(upd["schema-ids"])
        if meta["current-schema-id"] in ids:
            raise CommitValidationError("cannot remove the current schema")
        meta["schemas"] = [s for s in meta["schemas"] if s["schema-id"] not in ids]
    elif action == "set-statistics":
        sf = _deep_copy(upd.get("statistics", upd.get("statistics-file")))
        sid = sf["snapshot-id"]
        meta["statistics"] = [s for s in meta["statistics"] if s["snapshot-id"] != sid] + [sf]
    elif action == "remove-statistics":
        sid = upd["snapshot-id"]
        meta["statistics"] = [s for s in meta["statistics"] if s["snapshot-id"] != sid]
    elif action == "set-partition-statistics":
        sf = _deep_copy(upd.get("partition-statistics", upd.get("partition-statistics-file")))
        sid = sf["snapshot-id"]
        meta["partition-statistics"] = [
            s for s in meta["partition-statistics"] if s["snapshot-id"] != sid
        ] + [sf]
    elif action == "remove-partition-statistics":
        sid = upd["snapshot-id"]
        meta["partition-statistics"] = [
            s for s in meta["partition-statistics"] if s["snapshot-id"] != sid
        ]
    elif action == "add-encryption-key":
        key = _deep_copy(upd["encryption-key"])
        if any(k["key-id"] == key["key-id"] for k in meta["encryption-keys"]):
            raise CommitValidationError(f"encryption key {key['key-id']} already exists")
        meta["encryption-keys"].append(key)
    elif action == "remove-encryption-key":
        kid = upd["key-id"]
        meta["encryption-keys"] = [k for k in meta["encryption-keys"] if k["key-id"] != kid]
    else:
        raise CommitValidationError(f"unknown update action: {action}")
