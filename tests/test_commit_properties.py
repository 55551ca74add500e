"""Property-based tests for the TableUpdate commit engine.

SURVEY.md §5 notes the reference has no property-based testing; this goes
beyond its pure-function commit tests (commit_tables.rs:199-375) by driving
apply_commit with randomized update sequences and asserting the
TableMetadata invariants Iceberg requires after EVERY fold step:

  - pointer validity: current-schema-id / default-spec-id /
    default-sort-order-id / current-snapshot-id always resolve
  - last-column-id is an upper bound over every schema's field ids
  - snapshot-log only references live snapshots
  - apply_commit is pure (input metadata is never mutated) and
    deterministic (same input -> same output)
  - structural sharing: snapshots an update does not remove are the
    SAME objects in the input and the output (apply_commit copies one
    level, never the history)

The sequences reach every TableUpdate action, including the v3 upgrade
followed by out-of-line ``manifests`` (the first-row-id path), non-main
refs, statistics, encryption keys and schema/spec removal.
"""

from __future__ import annotations

import copy

from hypothesis import given, settings
from hypothesis import strategies as st

from lakekeeper_spark.catalog.commit import (
    CommitConflict,
    CommitValidationError,
    apply_commit,
    new_table_metadata,
)

BASE_SCHEMA = {
    "schema-id": 0,
    "fields": [{"id": 1, "name": "id", "type": "int", "required": False}],
}


def _fresh_meta():
    return new_table_metadata("uuid-1", "/tmp/t", copy.deepcopy(BASE_SCHEMA))


@st.composite
def update_sequences(draw):
    """A sequence of structurally-valid updates (they may still conflict
    semantically — the engine must either apply them or raise, never
    corrupt)."""
    n = draw(st.integers(min_value=1, max_value=12))
    updates = []
    next_field = 2
    next_snapshot = 1
    for _ in range(n):
        kind = draw(
            st.sampled_from(
                [
                    "add-schema",
                    "set-current-schema",
                    "add-spec",
                    "set-default-spec",
                    "add-sort-order",
                    "set-default-sort-order",
                    "snapshot",
                    "set-properties",
                    "remove-properties",
                    "remove-snapshot-ref",
                    "upgrade-v3",
                    "manifests-snapshot",
                    "remove-snapshots",
                    "set-branch-or-tag",
                    "set-statistics",
                    "remove-statistics",
                    "set-partition-statistics",
                    "remove-partition-statistics",
                    "add-encryption-key",
                    "remove-encryption-key",
                    "remove-schemas",
                    "remove-partition-specs",
                ]
            )
        )
        # an id that may or may not name a live snapshot
        some_snapshot = draw(st.integers(min_value=1, max_value=next_snapshot))
        if kind == "add-schema":
            fields = [
                {"id": i, "name": f"c{i}", "type": "int", "required": False}
                for i in range(1, next_field + 1)
            ]
            next_field += 1
            updates.append(
                {"action": "add-schema", "schema": {"schema-id": -1, "fields": fields}}
            )
        elif kind == "set-current-schema":
            updates.append(
                {"action": "set-current-schema", "schema-id": draw(st.sampled_from([-1, 0]))}
            )
        elif kind == "add-spec":
            updates.append({"action": "add-spec", "spec": {"spec-id": -1, "fields": []}})
        elif kind == "set-default-spec":
            updates.append({"action": "set-default-spec", "spec-id": -1})
        elif kind == "add-sort-order":
            updates.append(
                {"action": "add-sort-order", "sort-order": {"order-id": -1, "fields": []}}
            )
        elif kind == "set-default-sort-order":
            updates.append({"action": "set-default-sort-order", "sort-order-id": -1})
        elif kind == "snapshot":
            sid = next_snapshot
            next_snapshot += 1
            updates.append(
                {
                    "action": "add-snapshot",
                    "snapshot": {
                        "snapshot-id": sid,
                        "timestamp-ms": 1000 + sid,
                        "manifests": [],
                        "summary": {"operation": "append"},
                    },
                }
            )
            updates.append(
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": sid}
            )
        elif kind == "set-properties":
            key = draw(st.sampled_from(["a", "b", "c"]))
            updates.append({"action": "set-properties", "updates": {key: "v"}})
        elif kind == "remove-properties":
            updates.append(
                {"action": "remove-properties", "removals": [draw(st.sampled_from(["a", "b"]))]}
            )
        elif kind == "remove-snapshot-ref":
            updates.append({"action": "remove-snapshot-ref", "ref-name": "main"})
        elif kind in ("upgrade-v3", "manifests-snapshot"):
            if kind == "upgrade-v3":
                updates.append({"action": "upgrade-format-version", "format-version": 3})
            # out-of-line manifests: a new data descriptor (first-row-id
            # assigned in v3), a carried one keeping its id, a delete one
            sid = next_snapshot
            next_snapshot += 1
            manifests = [
                {"path": f"m{sid}.avro", "content": "data",
                 "null-id-rows": draw(st.integers(min_value=0, max_value=5))},
                {"path": "m0.avro", "content": "data", "null-id-rows": 0,
                 "first-row-id": 0},
                {"path": f"d{sid}.avro", "content": "deletes"},
            ]
            updates.append(
                {
                    "action": "add-snapshot",
                    "snapshot": {
                        "snapshot-id": sid,
                        "timestamp-ms": 1000 + sid,
                        "manifests": manifests,
                        "summary": {"operation": "append"},
                    },
                }
            )
            updates.append(
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": sid}
            )
        elif kind == "remove-snapshots":
            updates.append({"action": "remove-snapshots", "snapshot-ids": [some_snapshot]})
        elif kind == "set-branch-or-tag":
            ref_type = draw(st.sampled_from(["branch", "tag"]))
            updates.append(
                {
                    "action": "set-snapshot-ref",
                    "ref-name": f"{ref_type}-1",
                    "type": ref_type,
                    "snapshot-id": some_snapshot,
                    "max-ref-age-ms": 1000,
                }
            )
        elif kind in ("set-statistics", "set-partition-statistics"):
            field = kind.removeprefix("set-")
            updates.append(
                {
                    "action": kind,
                    field: {
                        "snapshot-id": some_snapshot,
                        "statistics-path": f"/tmp/t/stats-{some_snapshot}",
                        "file-size-in-bytes": 10,
                    },
                }
            )
        elif kind in ("remove-statistics", "remove-partition-statistics"):
            updates.append({"action": kind, "snapshot-id": some_snapshot})
        elif kind == "add-encryption-key":
            updates.append(
                {
                    "action": "add-encryption-key",
                    "encryption-key": {
                        "key-id": draw(st.sampled_from(["k1", "k2"])),
                        "encrypted-key-metadata": "AA==",
                    },
                }
            )
        elif kind == "remove-encryption-key":
            updates.append(
                {"action": "remove-encryption-key", "key-id": draw(st.sampled_from(["k1", "k2"]))}
            )
        elif kind == "remove-schemas":
            updates.append(
                {"action": "remove-schemas", "schema-ids": [draw(st.integers(0, 3))]}
            )
        elif kind == "remove-partition-specs":
            updates.append(
                {"action": "remove-partition-specs", "spec-ids": [draw(st.integers(0, 3))]}
            )
    return updates


def _check_invariants(meta):
    schema_ids = {s["schema-id"] for s in meta["schemas"]}
    assert meta["current-schema-id"] in schema_ids
    assert meta["default-spec-id"] in {s["spec-id"] for s in meta["partition-specs"]}
    assert meta["default-sort-order-id"] in {o["order-id"] for o in meta["sort-orders"]}
    max_field = max(
        (f["id"] for s in meta["schemas"] for f in s.get("fields", [])), default=0
    )
    assert meta["last-column-id"] >= max_field
    snap_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    if meta["current-snapshot-id"] is not None:
        assert meta["current-snapshot-id"] in snap_ids
    assert all(e["snapshot-id"] in snap_ids for e in meta["snapshot-log"])
    for name, ref in meta["refs"].items():
        assert ref["snapshot-id"] in snap_ids, name
    key_ids = [k["key-id"] for k in meta["encryption-keys"]]
    assert len(key_ids) == len(set(key_ids))
    for kind in ("statistics", "partition-statistics"):
        stat_ids = [s["snapshot-id"] for s in meta[kind]]
        assert len(stat_ids) == len(set(stat_ids))
    if meta["format-version"] >= 3:
        # every claimed row-id range lies below next-row-id
        for s in meta["snapshots"]:
            for d in s.get("manifests", []):
                if d.get("first-row-id") is not None:
                    assert d["first-row-id"] + d["null-id-rows"] <= meta["next-row-id"]


def _check_sharing(before, after):
    """Snapshots the update kept are the same objects, not copies."""
    kept = {id(s) for s in after["snapshots"]}
    for s in before["snapshots"]:
        if any(o["snapshot-id"] == s["snapshot-id"] for o in after["snapshots"]):
            assert id(s) in kept, s["snapshot-id"]


@settings(max_examples=60, deadline=None)
@given(update_sequences())
def test_commit_engine_invariants_hold(updates):
    meta = _fresh_meta()
    for upd in updates:
        arg = meta
        before = copy.deepcopy(meta)
        try:
            meta = apply_commit(arg, [], [upd])
        except (CommitConflict, CommitValidationError):
            # a rejected update must leave metadata untouched
            assert arg == before
            continue
        assert arg == before  # purity: the input dict is never mutated
        _check_invariants(meta)
        _check_sharing(arg, meta)


@settings(max_examples=30, deadline=None)
@given(update_sequences())
def test_commit_engine_pure_and_deterministic(updates):
    meta = _fresh_meta()
    frozen = copy.deepcopy(meta)
    frozen_updates = copy.deepcopy(updates)
    try:
        out1 = apply_commit(meta, [], updates)
    except (CommitConflict, CommitValidationError):
        assert meta == frozen
        return
    assert meta == frozen  # purity: input untouched
    assert updates == frozen_updates  # ...and so are the update payloads
    out2 = apply_commit(meta, [], updates)
    out1.pop("last-updated-ms"), out2.pop("last-updated-ms")
    for s in out1["snapshots"] + out2["snapshots"]:
        s.pop("timestamp-ms", None)
    assert out1 == out2  # determinism (modulo wall-clock stamps)
