"""Commit-engine unit tests.

Mirrors the reference's pure-function tests in
crates/lakekeeper/src/server/commit_tables.rs:199-375 (immutable-property
cases, format-version gate, uuid/location guards) plus requirement checks.
"""

from __future__ import annotations

import pytest

from lakekeeper_spark.catalog.commit import (
    CommitConflict,
    CommitValidationError,
    apply_commit,
    new_table_metadata,
)

SCHEMA = {"schema-id": 0, "fields": [{"id": 1, "name": "id", "type": "int", "required": False}]}


def meta(**kw):
    return new_table_metadata("u-1", "/wh/t1", SCHEMA, **kw)


def test_assert_create_conflicts_when_table_exists():
    with pytest.raises(CommitConflict):
        apply_commit(meta(), [{"type": "assert-create"}], [])


def test_assert_table_uuid():
    m = meta()
    apply_commit(m, [{"type": "assert-table-uuid", "uuid": "u-1"}], [])
    with pytest.raises(CommitConflict):
        apply_commit(m, [{"type": "assert-table-uuid", "uuid": "other"}], [])


def test_assert_ref_snapshot_id_empty_table():
    m = meta()
    apply_commit(m, [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}], [])
    with pytest.raises(CommitConflict):
        apply_commit(m, [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 5}], [])


def test_assign_uuid_guard():
    m = meta()
    out = apply_commit(m, [], [{"action": "assign-uuid", "uuid": "u-1"}])
    assert out["table-uuid"] == "u-1"
    with pytest.raises(CommitValidationError):
        apply_commit(m, [], [{"action": "assign-uuid", "uuid": "u-2"}])


def test_set_location_guard():
    m = meta()
    apply_commit(m, [], [{"action": "set-location", "location": "/wh/t1"}])
    with pytest.raises(CommitValidationError):
        apply_commit(m, [], [{"action": "set-location", "location": "/elsewhere"}])


def test_encryption_key_id_immutable():
    m = meta()
    out = apply_commit(
        m, [], [{"action": "set-properties", "updates": {"encryption.key-id": "k1"}}]
    )
    # same value re-set is fine
    apply_commit(out, [], [{"action": "set-properties", "updates": {"encryption.key-id": "k1"}}])
    with pytest.raises(CommitValidationError):
        apply_commit(
            out, [], [{"action": "set-properties", "updates": {"encryption.key-id": "k2"}}]
        )
    with pytest.raises(CommitValidationError):
        apply_commit(out, [], [{"action": "remove-properties", "removals": ["encryption.key-id"]}])


def test_format_version_policy_gate_and_no_downgrade():
    m = meta(format_version=2)
    out = apply_commit(m, [], [{"action": "upgrade-format-version", "format-version": 3}])
    assert out["format-version"] == 3
    with pytest.raises(CommitValidationError):
        apply_commit(out, [], [{"action": "upgrade-format-version", "format-version": 2}])
    with pytest.raises(CommitValidationError):
        apply_commit(
            m, [], [{"action": "upgrade-format-version", "format-version": 3}], max_format_version=2
        )


def test_schema_evolution_flow():
    m = meta()
    new_schema = {
        "schema-id": 1,
        "fields": SCHEMA["fields"] + [{"id": 2, "name": "s", "type": "string", "required": False}],
    }
    out = apply_commit(
        m,
        [{"type": "assert-current-schema-id", "current-schema-id": 0}],
        [
            {"action": "add-schema", "schema": new_schema},
            {"action": "set-current-schema", "schema-id": -1},
        ],
    )
    assert out["current-schema-id"] == 1
    assert out["last-column-id"] == 2
    with pytest.raises(CommitConflict):
        apply_commit(out, [{"type": "assert-current-schema-id", "current-schema-id": 0}], [])


def test_snapshot_and_refs():
    m = meta()
    snap = {"snapshot-id": 10, "timestamp-ms": 1, "manifests": [], "summary": {"operation": "append"}}
    out = apply_commit(
        m,
        [],
        [
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 10},
        ],
    )
    assert out["current-snapshot-id"] == 10
    assert out["refs"]["main"]["snapshot-id"] == 10
    assert out["last-sequence-number"] == 1
    out2 = apply_commit(
        out,
        [],
        [
            {"action": "set-snapshot-ref", "ref-name": "tag1", "snapshot-id": 10, "type": "tag"},
        ],
    )
    assert out2["refs"]["tag1"]["type"] == "tag"
    out3 = apply_commit(out2, [], [{"action": "remove-snapshot-ref", "ref-name": "tag1"}])
    assert "tag1" not in out3["refs"]
    # duplicate snapshot id rejected
    with pytest.raises(CommitValidationError):
        apply_commit(out, [], [{"action": "add-snapshot", "snapshot": snap}])


def test_remove_current_schema_forbidden():
    m = meta()
    with pytest.raises(CommitValidationError):
        apply_commit(m, [], [{"action": "remove-schemas", "schema-ids": [0]}])


def test_statistics_set_remove():
    m = meta()
    out = apply_commit(
        m,
        [],
        [{"action": "set-statistics", "statistics": {"snapshot-id": 1, "blob-metadata": []}}],
    )
    assert len(out["statistics"]) == 1
    out2 = apply_commit(out, [], [{"action": "remove-statistics", "snapshot-id": 1}])
    assert out2["statistics"] == []


def test_unknown_action_rejected():
    with pytest.raises(CommitValidationError):
        apply_commit(meta(), [], [{"action": "bogus"}])


def test_partition_spec_unresolvable_source_rejected():
    """A typo'd source column (or an add-spec ordered before the
    add-schema that defines it) must 400 like the reference, not commit
    spec-invalid metadata with a dangling source-id."""
    with pytest.raises(CommitValidationError):
        new_table_metadata(
            "u-2",
            "/wh/t2",
            SCHEMA,
            partition_spec={
                "spec-id": 0,
                "fields": [{"name": "p", "source-name": "no_such_col"}],
            },
        )
    m = meta()
    with pytest.raises(CommitValidationError):
        apply_commit(
            m,
            [],
            [
                {
                    "action": "add-spec",
                    "spec": {
                        "spec-id": 1,
                        "fields": [{"name": "p", "source-id": 99, "field-id": 1000}],
                    },
                }
            ],
        )
    with pytest.raises(CommitValidationError):
        apply_commit(
            m,
            [],
            [
                {
                    "action": "add-sort-order",
                    "sort-order": {
                        "order-id": 1,
                        "fields": [{"source-name": "no_such_col"}],
                    },
                }
            ],
        )
    # spec BEFORE the schema that defines its column: order matters
    with pytest.raises(CommitValidationError):
        apply_commit(
            m,
            [],
            [
                {
                    "action": "add-spec",
                    "spec": {"spec-id": 1, "fields": [{"name": "p", "source-name": "late"}]},
                },
                {
                    "action": "add-schema",
                    "schema": {
                        "schema-id": 1,
                        "fields": SCHEMA["fields"]
                        + [{"id": 2, "name": "late", "type": "int", "required": False}],
                    },
                },
            ],
        )


def test_reserved_metadata_column_names_refused():
    """Iceberg-parity (round-15): a data column named like an
    engine-produced metadata column (_file, _pos, _row_id,
    _change_type, ...) would shadow it in scans/changelogs — refused at
    create-table AND add-schema, like Iceberg's 'Cannot create column
    with reserved name'."""
    import pytest

    from lakekeeper_spark.catalog.commit import (
        CommitValidationError,
        apply_commit,
        new_table_metadata,
    )

    ok = {
        "schema-id": 0,
        "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}],
    }
    for bad_name in ("_file", "_pos", "_row_id", "_change_type",
                     "_last_updated_sequence_number"):
        bad = {
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": bad_name, "required": False,
                 "type": "long"},
            ],
        }
        with pytest.raises(CommitValidationError, match="reserved"):
            new_table_metadata("u", "loc", bad)
        meta = new_table_metadata("u", "loc", ok)
        with pytest.raises(CommitValidationError, match="reserved"):
            apply_commit(
                meta, [],
                [{"action": "add-schema",
                  "schema": {"schema-id": 1, "fields": [
                      {"id": 1, "name": "x", "required": False,
                       "type": "long"},
                      {"id": 2, "name": bad_name, "required": False,
                       "type": "long"},
                  ]}}],
            )


def test_reserved_name_grandfathering_is_current_schema_only():
    """Round-16 review fix: a reserved name carried by the CURRENT
    schema stays evolvable (legacy tables), but a reserved name that
    only ever existed in a DROPPED schema version cannot be
    re-introduced as a new column."""
    import pytest

    from lakekeeper_spark.catalog.commit import (
        CommitValidationError,
        apply_commit,
        new_table_metadata,
    )

    meta = new_table_metadata(
        "0b2c1df2-1111-2222-3333-444455556666",
        "/tmp/x",
        {"schema-id": 0, "fields": [
            {"id": 1, "name": "k", "type": "long", "required": False}]},
    )
    # simulate a pre-rule legacy table whose v1 schema had `_file`
    meta["schemas"].append(
        {"schema-id": 1, "type": "struct", "fields": [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "_file", "type": "string", "required": False},
        ]}
    )
    # current schema v0 has NO reserved names: re-adding `_file` from
    # the historical version must be refused
    with pytest.raises(CommitValidationError, match="reserved"):
        apply_commit(meta, [], [{"action": "add-schema", "schema": {
            "schema-id": 2, "fields": [
                {"id": 1, "name": "k", "type": "long", "required": False},
                {"id": 2, "name": "_file", "type": "string",
                 "required": False}]}}])
    # but a table whose CURRENT schema carries `_file` stays evolvable
    meta2 = apply_commit(meta, [], [
        {"action": "set-current-schema", "schema-id": 1}])
    out = apply_commit(meta2, [], [{"action": "add-schema", "schema": {
        "schema-id": 2, "fields": [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "_file", "type": "string", "required": False},
            {"id": 3, "name": "extra", "type": "long", "required": False},
        ]}}])
    assert any(s["schema-id"] == 2 for s in out["schemas"])
