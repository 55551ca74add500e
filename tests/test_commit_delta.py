"""A catalog commit costs CPU in proportion to its delta, not to the
table's history (catalog/commit.py ``apply_commit`` structural sharing,
catalog/metadoc.py identity-first pool keying).

Two kinds of guard:

  - byte identity: ``pack_metadata`` must produce exactly the text of
    the plain JSON-keyed pooling, kept verbatim below as the oracle, on
    every shape where identity keying could go wrong;
  - deterministic counts: a one-file append encodes the same number of
    canonical pool keys on a 20-snapshot and a 300-snapshot table, and
    the commit engine deep-copies only update payloads, never the table
    document.
"""

from __future__ import annotations

import copy
import json
from typing import Any

import pytest

from lakekeeper_spark.catalog import commit as commit_engine
from lakekeeper_spark.catalog import metadoc
from lakekeeper_spark.format.icelite import SparkTable, _next_seq

WH, NS = "wh", ["ns"]
SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}],
}


def json_keyed_pool(meta: dict[str, Any]) -> dict[str, Any]:
    """The oracle: pooling keyed by each descriptor's canonical JSON."""
    snaps = meta.get("snapshots")
    if not snaps or not any("manifests" in s for s in snaps):
        return meta
    pool: list[dict[str, Any]] = []
    index: dict[str, int] = {}
    out_snaps: list[dict[str, Any]] = []
    for s in snaps:
        descs = s.get("manifests")
        if descs is None:
            out_snaps.append(s)
            continue
        refs: list[int] = []
        for d in descs:
            key = json.dumps(d, sort_keys=True, separators=(",", ":"))
            i = index.get(key)
            if i is None:
                i = len(pool)
                pool.append(d)
                index[key] = i
            refs.append(i)
        s2 = {k: v for k, v in s.items() if k != "manifests"}
        s2[metadoc.REFS_KEY] = refs
        out_snaps.append(s2)
    return {**meta, "snapshots": out_snaps, metadoc.POOL_KEY: pool}


def _assert_same_text(meta: dict[str, Any]) -> None:
    assert metadoc.pack_metadata(meta) == json.dumps(json_keyed_pool(meta))


def _history(catalog, name: str, n: int) -> None:
    """Table ``name`` with ``n`` one-file appends, written as real
    snapshot payloads and committed in chunks (fast to build)."""
    catalog.create_table(
        WH, NS, name, SCHEMA,
        format_version=2,
        properties={"commit.manifest.min-count-to-merge": "8"},
    )
    writer = SparkTable(None, catalog, WH, NS, name)
    meta = writer.metadata()
    pending: list[dict[str, Any]] = []
    for i in range(n):
        ref = meta["refs"].get("main")
        parent = writer._snapshot(meta, ref["snapshot-id"]) if ref else None
        snap = writer._snapshot_payload(
            meta, parent, None, "append", appended=[_entry(meta, i)]
        )
        updates = [
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": snap["snapshot-id"]},
        ]
        for u in updates:  # fold locally so the next payload sees this one
            commit_engine._apply_update(meta, u, None)
        pending.extend(updates)
        if len(pending) >= 50 or i == n - 1:
            catalog.commit_table(WH, NS, name, [], pending)
            pending = []


def _entry(meta: dict[str, Any], i: int) -> dict[str, Any]:
    return {
        "path": f"data/f{i:05d}.parquet",
        "file-size-in-bytes": 1000 + i,
        "record-count": 10,
        "partition": {},
        "schema-id": 0,
        "bounds": {"x": [10 * i, 10 * i + 9]},
        "sequence-number": _next_seq(meta),
    }


@pytest.fixture()
def long_table(catalog):
    catalog.create_namespace(WH, NS)
    _history(catalog, "t", 60)
    return catalog


# ------------------------------------------------------------------
# byte identity against the JSON-keyed oracle
# ------------------------------------------------------------------
def test_pack_matches_oracle_on_unpacked_long_history(long_table):
    meta, _ = long_table.load_table(WH, NS, "t")
    assert len(meta["snapshots"]) == 60
    assert sum(len(s["manifests"]) for s in meta["snapshots"]) > 60
    _assert_same_text(meta)
    # the commit engine's output shares the carried descriptors
    out = commit_engine.apply_commit(
        meta, [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    _assert_same_text(out)


def test_pack_matches_oracle_on_deep_copied_document(long_table):
    meta, _ = long_table.load_table(WH, NS, "t")
    _assert_same_text(copy.deepcopy(meta))


def _doc(*snapshot_manifests: list[Any]) -> dict[str, Any]:
    return {
        "format-version": 2,
        "snapshots": [
            {"snapshot-id": i, "manifests": list(descs)}
            for i, descs in enumerate(snapshot_manifests)
        ],
    }


def test_pack_keeps_numbers_and_booleans_apart():
    # == equates 1, 1.0 and True; their JSON differs, so the pool must too
    shared = {"lo": 1}
    doc = _doc(
        [{"path": "m.avro", "n": 1, "b": shared}],
        [{"path": "m.avro", "n": 1.0, "b": shared}],
        [{"path": "m.avro", "n": True, "b": shared}],
        [{"path": "m.avro", "n": 1, "b": shared}],
        [{"path": "m.avro", "n": 1, "b": True}, {"path": "m.avro", "n": 1, "b": 1}],
    )
    pooled = json.loads(metadoc.pack_metadata(doc))[metadoc.POOL_KEY]
    assert json.dumps([d["n"] for d in pooled[:3]]) == "[1, 1.0, true]"
    assert len(pooled) == 5
    _assert_same_text(doc)


def test_pack_handles_reordered_keys():
    x, y = ["x"], ["y"]
    doc = _doc(
        [{"path": "a", "n": 1, "m": 2}],
        [{"m": 2, "path": "a", "n": 1}],  # same JSON: one pool entry
        # same keys and the same value objects in the same ORDER, but
        # bound to different keys: a different descriptor
        [{"path": "b", "p": x, "q": y}],
        [{"path": "b", "q": x, "p": y}],
        [{"q": y, "path": "b", "p": x}],  # equal to the first b
    )
    refs = [
        s[metadoc.REFS_KEY]
        for s in json.loads(metadoc.pack_metadata(doc))["snapshots"]
    ]
    assert refs == [[0], [0], [1], [2], [1]]
    _assert_same_text(doc)


def test_pack_handles_descriptors_without_a_string_path():
    same = {"n": 1}
    doc = _doc(
        [{"n": 1}, same, {"path": None, "n": 1}],
        [same, {"n": 1}, {"path": 5}, {"path": 5.0}, {"path": True}],
        [{"n": 1.0}, {"path": None, "n": 1}, {"path": 5}],
    )
    _assert_same_text(doc)
    assert len(json.loads(metadoc.pack_metadata(doc))[metadoc.POOL_KEY]) == 6


# ------------------------------------------------------------------
# deterministic counts: O(delta), not O(table)
# ------------------------------------------------------------------
def _append_one(catalog, name: str) -> None:
    writer = SparkTable(None, catalog, WH, NS, name)
    meta = writer.metadata()
    writer._commit_snapshot(meta, None, "append", appended=[_entry(meta, 99999)])


def test_append_commit_work_does_not_grow_with_history(catalog, monkeypatch):
    catalog.create_namespace(WH, NS)
    _history(catalog, "short", 20)
    _history(catalog, "long", 300)
    keys: list[Any] = []
    real_key = metadoc._canonical_key
    monkeypatch.setattr(
        metadoc, "_canonical_key", lambda d: keys.append(d) or real_key(d)
    )
    copied: list[Any] = []
    real_copy = commit_engine._deep_copy
    monkeypatch.setattr(
        commit_engine, "_deep_copy", lambda o: copied.append(o) or real_copy(o)
    )
    real_apply = commit_engine.apply_commit
    payloads: list[Any] = []

    def apply(meta, requirements, updates, **kw):
        payloads.extend(v for u in updates for v in u.values())
        return real_apply(meta, requirements, updates, **kw)

    monkeypatch.setattr(commit_engine, "apply_commit", apply)

    counts = {}
    for name in ("short", "long"):
        keys.clear()
        _append_one(catalog, name)
        counts[name] = len(keys)
    assert counts["short"] == counts["long"]
    # only the new snapshot's carried descriptors are encoded (each, plus
    # its same-path pool entry)
    meta, _ = catalog.load_table(WH, NS, "long")
    assert len(meta["snapshots"]) == 301
    assert counts["long"] <= 2 * len(meta["snapshots"][-1]["manifests"])
    # the engine deep-copies update payloads only, never the table
    assert copied
    assert all(any(o is p for p in payloads) for o in copied)
