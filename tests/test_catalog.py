"""Catalog-facade tests mirroring the reference's test_spark.py scenarios
(namespaces, case-insensitivity, rename, views, soft-delete/undrop,
protection, pagination, search, concurrency)."""

from __future__ import annotations

import threading
from pathlib import Path

import pytest

from lakekeeper_spark.catalog.catalog import (
    AlreadyExists,
    CatalogError,
    CommitFailedException,
    NoSuchEntity,
    NotModified,
    ProtectedEntity,
)
from lakekeeper_spark.catalog.identifiers import res_key
from lakekeeper_spark.catalog.lifecycle import run_expiration_queue

SCHEMA = {"schema-id": 0, "fields": [{"id": 1, "name": "id", "type": "int", "required": False}]}


def test_hierarchical_namespaces(catalog):
    # 4-level nesting like test_spark.py:986-1011
    catalog.create_namespace("wh", ["a"])
    catalog.create_namespace("wh", ["a", "b"])
    catalog.create_namespace("wh", ["a", "b", "c"])
    catalog.create_namespace("wh", ["a", "b", "c", "d"])
    assert catalog.namespace_exists("wh", ["a", "b", "c", "d"])
    with pytest.raises(NoSuchEntity):
        catalog.create_namespace("wh", ["x", "y"])  # missing parent
    top, _ = catalog.list_namespaces("wh")
    assert top == [("a",)]
    children, _ = catalog.list_namespaces("wh", parent=("a", "b"))
    assert children == [("a", "b", "c")]


def test_case_insensitive_case_preserving(catalog):
    # reference: concepts.md:25-66; test_spark.py:1208-1248
    catalog.create_namespace("wh", ["NS"])
    assert catalog.namespace_exists("wh", ["ns"])
    with pytest.raises(AlreadyExists):
        catalog.create_namespace("wh", ["nS"])
    catalog.create_table("wh", ["ns"], "MyTable", SCHEMA)
    assert catalog.table_exists("wh", ["NS"], "mytable")
    with pytest.raises(AlreadyExists):
        catalog.create_table("wh", ["Ns"], "MYTABLE", SCHEMA)
    names, _ = catalog.list_tables("wh", ["ns"])
    assert names == ["MyTable"]  # original spelling preserved


def test_special_char_identifiers(catalog):
    # test_spark.py:1014-1140: specials incl. emoji
    for name in ["t-1", "t_2", "t.3", "t!4", 'r"5', "tå", "té", "t🎯"]:
        catalog.create_namespace("wh", [name], exists_ok=True)
        catalog.create_table("wh", [name], name, SCHEMA)
        assert catalog.table_exists("wh", [name], name)


def test_namespace_properties_and_drop_rules(catalog):
    catalog.create_namespace("wh", ["p"], properties={"owner": "me"})
    assert catalog.namespace_properties("wh", ["p"]) == {"owner": "me"}
    props = catalog.update_namespace_properties("wh", ["p"], {"x": "1"}, removals=["owner"])
    assert props == {"x": "1"}
    catalog.create_namespace("wh", ["p", "q"])
    with pytest.raises(CatalogError):
        catalog.drop_namespace("wh", ["p"])  # not empty
    catalog.drop_namespace("wh", ["p", "q"])
    catalog.drop_namespace("wh", ["p"])
    assert not catalog.namespace_exists("wh", ["p"])


def test_load_table_etag_304(catalog):
    # reference load_table.rs:268-313 (If-None-Match -> 304)
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    meta, etag = catalog.load_table("wh", ["ns"], "t")
    with pytest.raises(NotModified):
        catalog.load_table("wh", ["ns"], "t", etag=etag)
    catalog.commit_table(
        "wh", ["ns"], "t", [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    meta2, etag2 = catalog.load_table("wh", ["ns"], "t", etag=etag)
    assert etag2 != etag and meta2["properties"]["k"] == "v"


def test_optimistic_concurrency_conflict(catalog):
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    # writer A and B both read snapshot state None; A commits first
    snap = {"snapshot-id": 1, "timestamp-ms": 1, "manifests": [], "summary": {"operation": "append"}}
    reqs = [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}]
    upds = [
        {"action": "add-snapshot", "snapshot": snap},
        {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 1},
    ]
    catalog.commit_table("wh", ["ns"], "t", reqs, upds)
    with pytest.raises(CommitFailedException):
        catalog.commit_table("wh", ["ns"], "t", reqs, upds)  # B loses


def test_commit_idempotency_replay(catalog):
    # reference replay_commit_table (server/tables.rs:144)
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    upds = [{"action": "set-properties", "updates": {"a": "1"}}]
    r1 = catalog.commit_table("wh", ["ns"], "t", [], upds, idempotency_key="req-1")
    # replay with the same key returns the original result, no double-apply
    r2 = catalog.commit_table("wh", ["ns"], "t", [], upds, idempotency_key="req-1")
    assert r1 == r2
    _, etag = catalog.load_table("wh", ["ns"], "t")
    assert etag == 2  # only one real commit happened


def test_multi_table_transaction_atomic(catalog):
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t1", SCHEMA)
    catalog.create_table("wh", ["ns"], "t2", SCHEMA)
    ok = [
        {"levels": ["ns"], "name": "t1", "requirements": [],
         "updates": [{"action": "set-properties", "updates": {"k": "1"}}]},
        {"levels": ["ns"], "name": "t2", "requirements": [],
         "updates": [{"action": "set-properties", "updates": {"k": "2"}}]},
    ]
    catalog.commit_transaction("wh", ok)
    # one valid + one conflicting change -> NOTHING is applied
    bad = [
        {"levels": ["ns"], "name": "t1", "requirements": [],
         "updates": [{"action": "set-properties", "updates": {"k": "9"}}]},
        {"levels": ["ns"], "name": "t2",
         "requirements": [{"type": "assert-table-uuid", "uuid": "wrong"}], "updates": []},
    ]
    with pytest.raises(CommitFailedException):
        catalog.commit_transaction("wh", bad)
    m1, _ = catalog.load_table("wh", ["ns"], "t1")
    assert m1["properties"]["k"] == "1"  # rollback happened


def _archives(catalog, name: str) -> list[str]:
    meta, _ = catalog.load_table("wh", ["ns"], name)
    return sorted(p.name for p in Path(meta["location"], "metadata").glob("*.metadata.json"))


def test_rolled_back_transaction_leaves_no_archive_file(catalog):
    # table A applies (and archives its previous version), then table B
    # fails its requirement: the whole transaction rolls back, and so
    # must A's archive file (no orphaned files)
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "a", SCHEMA)
    catalog.create_table("wh", ["ns"], "b", SCHEMA)
    catalog.commit_table(
        "wh", ["ns"], "a", [], [{"action": "set-properties", "updates": {"k": "1"}}]
    )
    before = _archives(catalog, "a")
    meta_before, seq_before = catalog.load_table("wh", ["ns"], "a")
    changes = [
        {"levels": ["ns"], "name": "a", "requirements": [],
         "updates": [{"action": "set-properties", "updates": {"k": "2"}}]},
        {"levels": ["ns"], "name": "b",
         "requirements": [{"type": "assert-current-schema-id", "current-schema-id": 7}],
         "updates": []},
    ]
    with pytest.raises(CommitFailedException):
        catalog.commit_transaction("wh", changes)
    assert catalog.load_table("wh", ["ns"], "a") == (meta_before, seq_before)
    assert _archives(catalog, "a") == before


def test_idempotency_key_applies_once_under_concurrency(catalog, monkeypatch):
    # both requests pass the pre-transaction key check before either
    # commits; the re-check inside the transaction must stop the second
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    store = catalog.store
    real_get = store.idempotency_get
    barrier = threading.Barrier(2, timeout=20)
    first_call = threading.local()

    def get(key):
        out = real_get(key)
        if not getattr(first_call, "done", False):
            first_call.done = True
            barrier.wait()
        return out

    monkeypatch.setattr(store, "idempotency_get", get)
    upds = [{"action": "set-properties", "updates": {"n": "1"}}]
    replies: list = []

    def commit():
        replies.append(
            catalog.commit_table("wh", ["ns"], "t", [], upds, idempotency_key="k-1")
        )

    threads = [threading.Thread(target=commit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(replies) == 2
    assert replies[0] == replies[1]
    _, seq = catalog.load_table("wh", ["ns"], "t")
    assert seq == 2  # created at 1, one commit applied


def test_failed_idempotency_record_leaves_table_unchanged(catalog, monkeypatch):
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    before = catalog.load_table("wh", ["ns"], "t")

    def broken_put(key, response):
        raise OSError("disk full")

    monkeypatch.setattr(catalog.store, "idempotency_put", broken_put)
    upds = [{"action": "set-properties", "updates": {"n": "1"}}]
    with pytest.raises(OSError):
        catalog.commit_table("wh", ["ns"], "t", [], upds, idempotency_key="k-2")
    assert catalog.load_table("wh", ["ns"], "t") == before
    assert catalog.store.idempotency_get("k-2") is None


def test_rename_and_cross_case_rename(catalog):
    catalog.create_namespace("wh", ["a"])
    catalog.create_namespace("wh", ["b"])
    catalog.create_table("wh", ["a"], "t", SCHEMA)
    catalog.rename_table("wh", ["a"], "t", ["b"], "t2")
    assert catalog.table_exists("wh", ["b"], "t2")
    assert not catalog.table_exists("wh", ["a"], "t")
    # cross-case rename of the same table (test_spark.py:1143-1154)
    catalog.rename_table("wh", ["b"], "t2", ["b"], "T2")
    names, _ = catalog.list_tables("wh", ["b"])
    assert names == ["T2"]


def test_soft_delete_undrop_and_expiration(catalog):
    # test_spark.py:345-470 semantics
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    catalog.drop_table("wh", ["ns"], "t")
    assert not catalog.table_exists("wh", ["ns"], "t")
    catalog.undrop_table("wh", ["ns"], "t")
    assert catalog.table_exists("wh", ["ns"], "t")
    # drop again; force expiration by making the task due now
    catalog.drop_table("wh", ["ns"], "t")
    catalog.store.execute("UPDATE tasks SET scheduled_ms = 0 WHERE status='pending'")
    assert run_expiration_queue(catalog) == 1
    with pytest.raises(NoSuchEntity):
        catalog.undrop_table("wh", ["ns"], "t")  # expired for real


def test_protection_flags(catalog):
    # endpoints.rs:238-250 + drop-path checks
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "t", SCHEMA)
    catalog.set_protection("wh", ["ns"], "t", True)
    with pytest.raises(ProtectedEntity):
        catalog.drop_table("wh", ["ns"], "t")
    catalog.set_protection("wh", ["ns"], "t", False)
    catalog.drop_table("wh", ["ns"], "t")


def test_location_overlap_rejected(catalog):
    # migration 20240911094637 / test_spark.py:832-927
    catalog.create_namespace("wh", ["ns"])
    meta = catalog.create_table("wh", ["ns"], "t", SCHEMA)
    clash = dict(meta)
    clash["table-uuid"] = "other-uuid"
    with pytest.raises(AlreadyExists):
        catalog.register_table("wh", ["ns"], "t", clash)  # same ident
    # same location through create_table is impossible (uuid in path), but
    # register at a sub-location must fail the overlap check
    sub = dict(meta)
    sub["table-uuid"] = "other-uuid"
    sub["location"] = meta["location"] + "/sub"
    # register_table doesn't re-check location (adopts), but create_table does:
    # simulate by direct insert attempt via create at the parent location
    row = catalog.store.one("SELECT location FROM tabulars WHERE id=?", (meta["table-uuid"],))
    assert row is not None


def test_pagination(catalog):
    catalog.create_namespace("wh", ["ns"])
    for i in range(7):
        catalog.create_table("wh", ["ns"], f"t{i:02d}", SCHEMA)
    page1, tok1 = catalog.list_tables("wh", ["ns"], page_size=3)
    assert page1 == ["t00", "t01", "t02"] and tok1
    page2, tok2 = catalog.list_tables("wh", ["ns"], page_token=tok1, page_size=3)
    assert page2 == ["t03", "t04", "t05"] and tok2
    page3, tok3 = catalog.list_tables("wh", ["ns"], page_token=tok2, page_size=3)
    assert page3 == ["t06"] and tok3 is None


def test_views_versioning(catalog):
    # views.rs:138-297; version log grows on replace
    catalog.create_namespace("wh", ["ns"])
    catalog.create_view("wh", ["ns"], "v", "SELECT 1 AS x")
    assert catalog.view_sql("wh", ["ns"], "v") == "SELECT 1 AS x"
    catalog.create_view("wh", ["ns"], "v", "SELECT 2 AS x", replace=True)
    meta = catalog.load_view("wh", ["ns"], "v")
    assert meta["current-version-id"] == 2
    assert len(meta["versions"]) == 2
    assert catalog.view_sql("wh", ["ns"], "v") == "SELECT 2 AS x"
    with pytest.raises(AlreadyExists):
        catalog.create_view("wh", ["ns"], "v", "SELECT 3")
    catalog.rename_table("wh", ["ns"], "v", ["ns"], "v2", kind="view")
    assert catalog.view_sql("wh", ["ns"], "v2") == "SELECT 2 AS x"
    catalog.drop_view("wh", ["ns"], "v2")
    with pytest.raises(NoSuchEntity):
        catalog.load_view("wh", ["ns"], "v2")


def test_generic_tables(catalog):
    # generic_tables/mod.rs:36-90 (Lance fixture shape, test_lance.py)
    catalog.create_namespace("wh", ["ns"])
    catalog.create_generic_table(
        "wh", ["ns"], "users", "lance", "/data/lance/users",
        schema={"fields": [{"name": "user_id", "type": "int64"}]},
    )
    meta = catalog.load_generic_table("wh", ["ns"], "users")
    assert meta["format"] == "lance"
    names, _ = catalog.list_tables("wh", ["ns"], kind="generic")
    assert names == ["users"]
    catalog.drop_generic_table("wh", ["ns"], "users")
    with pytest.raises(NoSuchEntity):
        catalog.load_generic_table("wh", ["ns"], "users")


def test_search_and_stats_and_events(catalog):
    catalog.create_namespace("wh", ["ns"])
    catalog.create_table("wh", ["ns"], "customers", SCHEMA)
    catalog.create_table("wh", ["ns"], "customer_events", SCHEMA)
    catalog.create_view("wh", ["ns"], "cust_view", "SELECT 1")
    hits = catalog.search_tabular("wh", "customer")
    assert hits[0]["name"] == "customers"
    stats = catalog.warehouse_statistics("wh")
    assert stats["number-of-tables"] == 2 and stats["number-of-views"] == 1
    events = catalog.list_events()
    assert any(e["type"] == "create-table" for e in events)
    assert any(e["type"] == "create-view" for e in events)


def test_staged_create_finalized_by_commit(catalog):
    # create_table.rs:255-275: staged create defers visibility to commit
    catalog.create_namespace("wh", ["ns"])
    meta = catalog.create_table("wh", ["ns"], "t", SCHEMA, stage_create=True)
    assert meta["staged"] is True
    catalog.commit_table(
        "wh", ["ns"], "t", [], [{"action": "set-properties", "updates": {}}]
    )
    m2, _ = catalog.load_table("wh", ["ns"], "t")
    assert "staged" not in m2


def test_rename_view_and_show_views(catalog):
    """ALTER VIEW RENAME + SHOW VIEWS + view_exists (reference
    test_spark.py:100-152, test_rename_view/test_create_drop_view/
    test_view_exists)."""
    catalog.create_namespace("wh", ["vns"])
    catalog.create_view("wh", ["vns"], "my_view", "SELECT 1 AS x")
    names, _ = catalog.list_views("wh", ["vns"])
    assert names == ["my_view"]
    assert catalog.view_exists("wh", ["vns"], "my_view")
    catalog.rename_view("wh", ["vns"], "my_view", ["vns"], "my_view_renamed")
    names, _ = catalog.list_views("wh", ["vns"])
    assert names == ["my_view_renamed"]
    assert not catalog.view_exists("wh", ["vns"], "my_view")
    assert catalog.view_sql("wh", ["vns"], "my_view_renamed") == "SELECT 1 AS x"
    catalog.drop_view("wh", ["vns"], "my_view_renamed")
    names, _ = catalog.list_views("wh", ["vns"])
    assert names == []


def test_create_or_replace_table(catalog):
    """CREATE OR REPLACE TABLE bumps the table UUID, resets history, and
    queues the old location for purge (reference test_spark.py:62-68)."""
    catalog.create_namespace("wh", ["rns"])
    schema1 = {"fields": [{"id": 1, "name": "a", "type": "int", "required": False}]}
    meta1 = catalog.create_or_replace_table("wh", ["rns"], "t", schema1)
    schema2 = {
        "fields": [
            {"id": 1, "name": "b", "type": "string", "required": False},
            {"id": 2, "name": "c", "type": "double", "required": False},
        ]
    }
    meta2 = catalog.create_or_replace_table("wh", ["rns"], "t", schema2)
    assert meta2["table-uuid"] != meta1["table-uuid"]
    assert meta2["location"] != meta1["location"]
    assert meta2["snapshots"] == []
    loaded, _ = catalog.load_table("wh", ["rns"], "t")
    assert loaded["table-uuid"] == meta2["table-uuid"]
    assert [f["name"] for f in loaded["schemas"][0]["fields"]] == ["b", "c"]
    names, _ = catalog.list_tables("wh", ["rns"])
    assert names == ["t"]
    # old location queued for purge
    tasks = [t for t in catalog.store.query(
        "SELECT payload FROM tasks WHERE queue='tabular_purge'")]
    import json as _json

    locations = [_json.loads(t["payload"]).get("location") for t in tasks]
    assert meta1["location"] in locations
    # a protected table cannot be replaced
    catalog.set_protection("wh", ["rns"], "t", True)
    import pytest as _pytest

    from lakekeeper_spark.catalog.catalog import ProtectedEntity

    with _pytest.raises(ProtectedEntity):
        catalog.create_or_replace_table("wh", ["rns"], "t", schema1)


def test_task_retry_backoff_and_heartbeat(catalog):
    """Task framework depth (reference service/tasks/task_registry.rs):
    failures requeue with exponential backoff until max_attempts; stale
    heartbeats are reaped; terminal rows are cleaned from the log."""
    st = catalog.store
    tid = st.enqueue_task("testq", {"k": 1})
    # attempt 1 fails -> requeued in the future
    [t] = st.pick_tasks("testq")
    assert t["attempts"] == 1
    assert st.fail_task(tid, "boom", max_attempts=2, backoff_ms=50) == "pending"
    row = st.one("SELECT status, scheduled_ms, error FROM tasks WHERE task_id=?", (tid,))
    assert row["status"] == "pending" and row["error"] == "boom"
    # make it due again; attempt 2 fails -> terminal error
    st.execute("UPDATE tasks SET scheduled_ms=0 WHERE task_id=?", (tid,))
    [t] = st.pick_tasks("testq")
    assert t["attempts"] == 2
    assert st.fail_task(tid, "boom2", max_attempts=2, backoff_ms=50) == "error"
    assert st.one("SELECT status FROM tasks WHERE task_id=?", (tid,))["status"] == "error"
    # heartbeat + reaping
    tid2 = st.enqueue_task("testq", {"k": 2})
    st.pick_tasks("testq")
    st.heartbeat_task(tid2)
    assert st.reap_stale_tasks(heartbeat_timeout_ms=60_000) == 0  # fresh heartbeat
    st.execute("UPDATE tasks SET last_heartbeat_ms=0 WHERE task_id=?", (tid2,))
    assert st.reap_stale_tasks(heartbeat_timeout_ms=60_000) == 1  # reaped -> pending
    assert st.one("SELECT status FROM tasks WHERE task_id=?", (tid2,))["status"] == "pending"
    # task-log cleanup removes terminal rows only
    from lakekeeper_spark.catalog.metastore import now_ms

    assert st.cleanup_task_log(now_ms() + 1) == 1  # the error row
    assert st.one("SELECT status FROM tasks WHERE task_id=?", (tid2,))["status"] == "pending"
    # per-warehouse config surface
    cfg = catalog.task_config("wh")
    assert cfg == {"max_attempts": 5, "backoff_ms": 1000, "heartbeat_timeout_ms": 120_000}


def test_storage_layout_templates(catalog):
    """storage-layout warehouse property (reference
    storage_layout.rs:60-246): tabular-only, parent-namespace-and-tabular,
    full-hierarchy; segments URL-encoded; {uuid} required for tabular-only."""
    import pytest as _pytest

    from lakekeeper_spark.catalog.catalog import CatalogError

    base = catalog._warehouse("wh")["location"]
    catalog.create_namespace("wh", ["lay"])
    catalog.create_namespace("wh", ["lay", "er"])

    def set_layout(layout):
        catalog.store.execute(
            "UPDATE warehouses SET properties=json_set(properties, '$.\"storage-layout\"', json(?))"
            " WHERE wh_key='wh'",
            (__import__("json").dumps(layout),),
        )

    set_layout({"type": "tabular-only", "tabular": "{name}-{uuid}"})
    meta = catalog.create_table("wh", ["lay", "er"], "t one", SCHEMA)
    assert meta["location"].startswith(f"{base}/t%20one-")
    set_layout({"type": "parent-namespace-and-tabular",
                "namespace": "{name}", "tabular": "{name}-{uuid}"})
    meta = catalog.create_table("wh", ["lay", "er"], "t2", SCHEMA)
    assert meta["location"].startswith(f"{base}/er/t2-")
    set_layout({"type": "full-hierarchy", "namespace": "{name}", "tabular": "{uuid}"})
    meta = catalog.create_table("wh", ["lay", "er"], "t3", SCHEMA)
    assert meta["location"].startswith(f"{base}/lay/er/")
    set_layout({"type": "tabular-only", "tabular": "{name}"})  # no {uuid}
    with _pytest.raises(CatalogError):
        catalog.create_table("wh", ["lay"], "bad", SCHEMA)


def test_report_metrics_sink(catalog):
    """ReportMetrics accepts arbitrary JSON and is queryable per table
    (reference api/iceberg/v1/metrics.rs:40-66)."""
    catalog.create_namespace("wh", ["mns"])
    catalog.create_table("wh", ["mns"], "t", SCHEMA)
    catalog.report_metrics("wh", ["mns"], "t", {
        "report-type": "scan-report", "snapshot-id": 7, "result-data-files": 3})
    catalog.report_metrics("wh", ["mns"], "t", {
        "report-type": "commit-report", "attempts": 1})
    reports = catalog.list_metrics_reports("wh", ["mns"], "t")
    assert [r["report-type"] for r in reports] == ["scan-report", "commit-report"]
    assert reports[0]["report"]["result-data-files"] == 3


def test_generic_table_read_path(catalog, spark, tmp_path):
    """Registered generic tables with a Spark-native format are readable
    through the registry (reference test_lance.py read path); the lance
    branch defaults to the built-in lancelite codec, which reports the
    missing dataset for a bogus location."""
    from lakekeeper_spark.format.generic import read_generic_table

    data_dir = str(tmp_path / "gdata")
    spark.createDataFrame(
        [(1, "a", 2.2), (2, "b", 3.3)], "user_id long, s string, x double"
    ).write.parquet(data_dir)
    catalog.create_namespace("wh", ["gns"])
    catalog.create_generic_table(
        "wh", ["gns"], "users", "parquet", data_dir,
        schema={"fields": [
            {"name": "user_id", "type": "int64"},
            {"name": "s", "type": "string"},
            {"name": "x", "type": "double"},
        ]},
    )
    df = read_generic_table(spark, catalog, "wh", ["gns"], "users")
    assert sorted((r.user_id, r.s, r.x) for r in df.collect()) == [
        (1, "a", 2.2), (2, "b", 3.3)]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "double"]
    catalog.create_generic_table("wh", ["gns"], "vecs", "lance", "/data/vec")
    with pytest.raises((FileNotFoundError, OSError)):
        read_generic_table(spark, catalog, "wh", ["gns"], "vecs")


def test_load_credentials_downscoped(catalog):
    """LoadCredentials parity: scoped prefix, deterministic session keys
    inside the validity window, revalidation horizon; works for tables and
    generic tables."""
    catalog.create_namespace("wh", ["cns"])
    catalog.create_table("wh", ["cns"], "t", SCHEMA)
    c1 = catalog.load_credentials("wh", ["cns"], "t")
    c2 = catalog.load_credentials("wh", ["cns"], "t")
    cred = c1["storage-credentials"][0]
    # session keys stable within the validity window (cache-equivalent)
    assert cred == c2["storage-credentials"][0]
    assert cred["prefix"]  # scoped to the table location
    cfg = cred["config"]
    assert cfg["type"] == "sts-downscoped"
    assert cfg["permissions"] == "read-write-delete"  # AllowAll default
    assert cfg["access-key-id"].startswith("LKV")
    assert cfg["session-token"] and cfg["secret-access-key"]
    assert cfg["expiration-ms"] > 0
    assert c1["credentials-revalidate-after-ms"] > 0
    # the session policy downscopes to exactly the table prefix
    import json as _json

    policy = _json.loads(cfg["session-policy"])
    table_stmt = next(
        s for s in policy["Statement"] if s["Sid"] == "TableAccess"
    )
    assert "s3:DeleteObject" in table_stmt["Action"]
    assert table_stmt["Resource"].endswith("/*")
    catalog.create_generic_table("wh", ["cns"], "g", "parquet", "/data/g")
    g = catalog.load_credentials("wh", ["cns"], "g", kind="generic")
    assert g["storage-credentials"][0]["prefix"] == "/data/g"
    with pytest.raises(NoSuchEntity):
        catalog.load_credentials("wh", ["cns"], "missing")


def test_read_view_executes_sql(catalog, spark):
    """CREATE VIEW -> SELECT through the engine; REPLACE changes the
    projection (reference test_create_replace_view column-order check)."""
    from lakekeeper_spark.format.generic import read_view
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    catalog.create_namespace("wh", ["vx"])
    df = spark.createDataFrame(
        [(1, 1.2), (2, 2.2)], "my_ints int, my_floats double"
    )
    catalog.create_table("wh", ["vx"], "my_table", struct_to_schema(df.schema))
    SparkTable(spark, catalog, "wh", ["vx"], "my_table").append(df)
    catalog.create_view(
        "wh", ["vx"], "my_view",
        "SELECT my_ints, my_floats FROM my_table",
        schema={}, dialect="spark",
    )
    out = read_view(spark, catalog, "wh", ["vx"], "my_view")
    assert out.columns == ["my_ints", "my_floats"]
    assert out.count() == 2
    catalog.create_view(
        "wh", ["vx"], "my_view",
        "SELECT my_floats, my_ints FROM my_table WHERE my_ints > 1",
        replace=True,
    )
    out = read_view(spark, catalog, "wh", ["vx"], "my_view")
    assert out.columns == ["my_floats", "my_ints"]
    assert out.count() == 1


def test_warehouse_statistics_hourly_roll(catalog):
    """Statistics requests lazily roll an hourly history row (reference
    warehouse/mod.rs:361-374); repeated calls in one hour update in place."""
    catalog.create_namespace("wh", ["sns"])
    catalog.create_table("wh", ["sns"], "t1", SCHEMA)
    s1 = catalog.warehouse_statistics("wh")
    assert s1["number-of-tables"] == 1
    catalog.create_table("wh", ["sns"], "t2", SCHEMA)
    s2 = catalog.warehouse_statistics("wh")
    assert s2["number-of-tables"] == 2
    hist = catalog.warehouse_statistics_history("wh")
    assert len(hist) == 1  # same hour: updated in place
    assert hist[0]["number-of-tables"] == 2


def test_pick_tasks_exclusive_and_ordered(catalog):
    """A picked (running) task is never handed out twice; due tasks drain
    in scheduled order."""
    st = catalog.store
    ids = [st.enqueue_task("exq", {"i": i}) for i in range(5)]
    first = st.pick_tasks("exq", limit=3)
    second = st.pick_tasks("exq", limit=10)
    got1 = {t["task_id"] for t in first}
    got2 = {t["task_id"] for t in second}
    assert got1.isdisjoint(got2)
    assert got1 | got2 == set(ids)
    assert st.pick_tasks("exq", limit=10) == []  # all running now


def test_multi_dialect_view_representations(catalog):
    """Reference server/views/commit.rs stores N sql representations per
    view version, one per engine dialect; view_sql(dialect=) must return
    that dialect's own text."""
    from lakekeeper_spark.catalog.catalog import CatalogError, NoSuchEntity

    catalog.create_namespace("wh", ["md"])
    catalog.create_view(
        "wh",
        ["md"],
        "rev",
        "SELECT 1 AS one",
        dialect="spark",
        representations={"trino": "SELECT 1 AS one /* trino */"},
    )
    assert catalog.view_sql("wh", ["md"], "rev", "spark") == "SELECT 1 AS one"
    assert (
        catalog.view_sql("wh", ["md"], "rev", "trino")
        == "SELECT 1 AS one /* trino */"
    )
    # strict mode refuses a dialect the version does not carry
    import pytest as _pytest

    with _pytest.raises(NoSuchEntity):
        catalog.view_sql("wh", ["md"], "rev", "starrocks", strict=True)
    # non-strict falls back to the primary representation
    assert catalog.view_sql("wh", ["md"], "rev", "starrocks") == "SELECT 1 AS one"
    # conflicting duplicate dialect is rejected
    with _pytest.raises(CatalogError):
        catalog.create_view(
            "wh",
            ["md"],
            "rev2",
            "SELECT 2",
            dialect="spark",
            representations={"spark": "SELECT 99"},
        )
    # adding a dialect later commits a NEW version holding both
    meta = catalog.add_view_dialect(
        "wh", ["md"], "rev", "starrocks", "SELECT 1 /* sr */"
    )
    assert meta["current-version-id"] == 2
    cur = next(
        v for v in meta["versions"] if v["version-id"] == meta["current-version-id"]
    )
    assert {r["dialect"] for r in cur["representations"]} == {
        "spark",
        "trino",
        "starrocks",
    }
    assert catalog.view_sql("wh", ["md"], "rev", "starrocks") == "SELECT 1 /* sr */"
    assert catalog.view_sql("wh", ["md"], "rev", "trino") == "SELECT 1 AS one /* trino */"
    # version 1 is immutable history with its original two dialects
    v1 = next(v for v in meta["versions"] if v["version-id"] == 1)
    assert {r["dialect"] for r in v1["representations"]} == {"spark", "trino"}


# ---------------------------------------------------------------------------
# authorization hook (reference service/authz/mod.rs; SURVEY §2.4 last row)
# ---------------------------------------------------------------------------
def _rbac_catalog(tmp_path):
    from lakekeeper_spark.catalog.authz import StaticRbacAuthorizer
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    authz = StaticRbacAuthorizer(
        grants={
            None: {"*"},  # the anonymous/system principal stays root
            "admin": {"*"},
            "reader": {"get_metadata", "read_data", "include_in_list"},
        },
        resource_grants={("reader", res_key(["ns"], "secret")): set()},  # fully hidden
    )
    cat = Catalog(Metastore(str(tmp_path / "m.db")), authorizer=authz)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    schema = {"type": "struct", "schema-id": 0,
              "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}]}
    cat.create_table("wh", ["ns"], "t", schema)
    cat.create_table("wh", ["ns"], "secret", schema)
    return cat


def test_authz_reader_can_load_but_not_mutate(tmp_path):
    from lakekeeper_spark.catalog.authz import AuthorizationError

    cat = _rbac_catalog(tmp_path)
    with cat.acting_as("reader"):
        meta, _ = cat.load_table("wh", ["ns"], "t")  # get_metadata allowed
        assert meta["table-uuid"]
        import pytest

        with pytest.raises(AuthorizationError):
            cat.drop_table("wh", ["ns"], "t")
        with pytest.raises(AuthorizationError):
            cat.rename_table("wh", ["ns"], "t", ["ns"], "t2")
        with pytest.raises(AuthorizationError):
            cat.create_table(
                "wh", ["ns"], "new", {"type": "struct", "schema-id": 0, "fields": []}
            )
        with pytest.raises(AuthorizationError):
            cat.set_protection("wh", ["ns"], "t", True)
    # table survived every denied mutation
    assert cat.table_exists("wh", ["ns"], "t")


def test_authz_list_filtering_and_resource_scope(tmp_path):
    from lakekeeper_spark.catalog.authz import AuthorizationError

    cat = _rbac_catalog(tmp_path)
    # admin and the default principal see both tables
    names, _ = cat.list_tables("wh", ["ns"])
    assert names == ["secret", "t"]
    with cat.acting_as("admin"):
        names, _ = cat.list_tables("wh", ["ns"])
        assert names == ["secret", "t"]
    # reader: ns.secret is filtered from listings AND load is denied
    with cat.acting_as("reader"):
        names, _ = cat.list_tables("wh", ["ns"])
        assert names == ["t"]
        import pytest

        with pytest.raises(AuthorizationError):
            cat.load_table("wh", ["ns"], "secret")


def test_authz_denial_emits_audit_event_and_actor_scope_restores(tmp_path):
    from lakekeeper_spark.catalog.authz import AuthorizationError

    cat = _rbac_catalog(tmp_path)
    import pytest

    with cat.acting_as("reader"):
        with pytest.raises(AuthorizationError):
            cat.drop_table("wh", ["ns"], "t")
    assert cat._actor is None  # scope restored
    audits = [e for e in cat.list_events(1000) if e["type"] == "authorization-failed"]
    assert len(audits) == 1
    assert audits[0]["payload"] == {"actor": "reader", "action": "drop"}
    # default principal unaffected: mutation proceeds and emits NO audit row
    cat.drop_table("wh", ["ns"], "t")
    audits2 = [e for e in cat.list_events(1000) if e["type"] == "authorization-failed"]
    assert len(audits2) == 1


def test_custom_location_and_shared_prefix_purge_safety(catalog, tmp_path):
    """Reference test_spark.py:740/793/832: a CREATE with an explicit
    LOCATION is honored; a location that shares a STRING prefix with an
    existing table ('X' vs 'Xa') is legal (only same/sub-locations are
    overlaps); and purging the first table must not touch the sibling's
    files (purge is path-scoped, never string-prefix-scoped)."""
    import os

    from lakekeeper_spark.catalog.catalog import AlreadyExists
    from lakekeeper_spark.catalog.lifecycle import run_purge_queue

    catalog.create_namespace("wh", ["ns"])
    schema = {"type": "struct", "schema-id": 0,
              "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}]}
    base = str(tmp_path / "custom-location")
    meta1 = catalog.create_table("wh", ["ns"], "t1", schema, location=base)
    assert meta1["location"] == base
    # sibling with a shared string prefix: allowed
    meta2 = catalog.create_table("wh", ["ns"], "t2", schema, location=base + "a")
    assert meta2["location"] == base + "a"
    # same location and sub-location: rejected
    import pytest

    with pytest.raises(AlreadyExists):
        catalog.create_table("wh", ["ns"], "t3", schema, location=base)
    with pytest.raises(AlreadyExists):
        catalog.create_table("wh", ["ns"], "t4", schema, location=base + "/sub")

    # drop t1 with purge; t2's files must survive
    os.makedirs(base, exist_ok=True)
    os.makedirs(base + "a", exist_ok=True)
    (tmp_path / "custom-location" / "data.parquet").write_bytes(b"x")
    with open(base + "a/data.parquet", "wb") as f:
        f.write(b"y")
    catalog.drop_table("wh", ["ns"], "t1", purge=True)
    run_purge_queue(catalog)
    assert not os.path.exists(base)  # purged
    assert os.path.exists(base + "a/data.parquet")  # sibling untouched
    assert catalog.table_exists("wh", ["ns"], "t2")


def test_authz_namespace_and_view_gating(tmp_path):
    """Namespace and view operations pass through the same authorizer as
    tables (reference CatalogNamespaceAction / CatalogViewAction next to
    CatalogTableAction): a read-only principal can load but not mutate,
    and hidden namespaces vanish from listings."""
    import pytest

    from lakekeeper_spark.catalog.authz import AuthorizationError, StaticRbacAuthorizer
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    authz = StaticRbacAuthorizer(
        grants={
            None: {"*"},
            "reader": {"get_metadata", "read_data", "include_in_list"},
        },
        resource_grants={("reader", "hidden"): set()},  # namespace fully hidden
    )
    cat = Catalog(Metastore(str(tmp_path / "m.db")), authorizer=authz)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    cat.create_namespace("wh", ["hidden"])
    cat.create_view("wh", ["ns"], "v", "SELECT 1 AS one")
    with cat.acting_as("reader"):
        # reads allowed
        assert cat.load_view("wh", ["ns"], "v")["view-uuid"]
        assert cat.namespace_properties("wh", ["ns"]) == {}
        # listing filters the hidden namespace
        namespaces, _ = cat.list_namespaces("wh")
        assert namespaces == [("ns",)]
        # every mutation denied
        with pytest.raises(AuthorizationError):
            cat.create_namespace("wh", ["ns2"])
        with pytest.raises(AuthorizationError):
            cat.drop_namespace("wh", ["ns"])
        with pytest.raises(AuthorizationError):
            cat.update_namespace_properties("wh", ["ns"], {"k": "v"})
        with pytest.raises(AuthorizationError):
            cat.create_view("wh", ["ns"], "v2", "SELECT 2 AS two")
        with pytest.raises(AuthorizationError):
            cat.create_view("wh", ["ns"], "v", "SELECT 3 AS three", replace=True)
        with pytest.raises(AuthorizationError):
            cat.drop_view("wh", ["ns"], "v")
        with pytest.raises(AuthorizationError):
            cat.rename_view("wh", ["ns"], "v", ["ns"], "v2")
    # everything survived
    assert cat.view_exists("wh", ["ns"], "v")
    assert cat.namespace_exists("wh", ["ns"])


def test_authz_list_pagination_filters_before_truncation(tmp_path):
    """A restricted caller's pages are full-sized whenever enough
    authorized rows exist: filtering runs BEFORE page_size truncation and
    next_token advances over hidden entries (reference list-filter +
    PageToken semantics)."""
    from lakekeeper_spark.catalog.authz import StaticRbacAuthorizer
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    authz = StaticRbacAuthorizer(
        grants={None: {"*"}, "reader": {"include_in_list"}},
        resource_grants={
            ("reader", res_key(["ns"], "b")): set(),
            ("reader", res_key(["ns"], "d")): set(),
        },
    )
    cat = Catalog(Metastore(str(tmp_path / "m.db")), authorizer=authz)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    schema = {"type": "struct", "schema-id": 0,
              "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}]}
    for n in ["a", "b", "c", "d", "e", "f"]:
        cat.create_table("wh", ["ns"], n, schema)
    with cat.acting_as("reader"):
        # authorized rows are a,c,e,f; hidden: b,d
        page1, tok1 = cat.list_tables("wh", ["ns"], page_size=2)
        assert page1 == ["a", "c"], "page must be FULL despite hidden b"
        assert tok1 is not None
        page2, tok2 = cat.list_tables("wh", ["ns"], page_token=tok1, page_size=2)
        assert page2 == ["e", "f"]
        assert tok2 is None  # exact end: no phantom next page
    # unrestricted caller still paginates over everything
    p1, t1 = cat.list_tables("wh", ["ns"], page_size=4)
    assert p1 == ["a", "b", "c", "d"] and t1 is not None
    p2, t2 = cat.list_tables("wh", ["ns"], page_token=t1, page_size=4)
    assert p2 == ["e", "f"] and t2 is None


def test_authz_role_hierarchy_inheritance(tmp_path):
    """RoleRbacAuthorizer: role-to-role inheritance resolves grants
    transitively (reference OpenFGA role#assignee@role:child tuples) and
    per-resource overrides hide entities from a whole role subtree."""
    import pytest

    from lakekeeper_spark.catalog.authz import AuthorizationError, RoleRbacAuthorizer
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    authz = RoleRbacAuthorizer(
        assignments={None: {"root"}, "amy": {"data_admin"}, "bob": {"analyst"}},
        role_grants={
            "root": {"*"},
            "analyst": {"get_metadata", "read_data", "include_in_list"},
            "writer": {"write_data", "commit", "create"},
            # data_admin holds no direct grants: everything is inherited
            "data_admin": {"drop", "rename"},
        },
        role_parents={"data_admin": {"writer"}, "writer": {"analyst"}},
        role_resource_grants={("analyst", res_key(["ns"], "secret")): set()},
    )
    cat = Catalog(Metastore(str(tmp_path / "m.db")), authorizer=authz)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    schema = {"type": "struct", "schema-id": 0,
              "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}]}
    cat.create_table("wh", ["ns"], "t", schema)
    cat.create_table("wh", ["ns"], "secret", schema)
    with cat.acting_as("amy"):
        # inherited two hops: data_admin -> writer -> analyst
        assert cat.load_table("wh", ["ns"], "t")[0]["table-uuid"]
        cat.create_table("wh", ["ns"], "t2", schema)  # from writer
        cat.rename_table("wh", ["ns"], "t2", ["ns"], "t3")  # direct
        cat.drop_table("wh", ["ns"], "t3")
        # the analyst-level resource override hides ns.secret from the
        # whole subtree: amy's only include_in_list grant comes from
        # analyst, which is overridden to empty on this resource
        names, _ = cat.list_tables("wh", ["ns"])
        assert names == ["t"]
    with cat.acting_as("bob"):
        assert cat.load_table("wh", ["ns"], "t")[0]["table-uuid"]
        with pytest.raises(AuthorizationError):
            cat.create_table("wh", ["ns"], "nope", schema)
        with pytest.raises(AuthorizationError):
            cat.drop_table("wh", ["ns"], "t")
        names, _ = cat.list_tables("wh", ["ns"])
        assert names == ["t"]


def test_generic_table_orc_and_parquet_read_path(catalog, spark, tmp_path):
    """The remaining Spark-native generic formats (orc, parquet) read
    through the same declared-schema path as csv/json (c08)."""
    from lakekeeper_spark.format.generic import read_generic_table

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 3.5)], "k long, s string, x double"
    )
    catalog.create_namespace("wh", ["gfmt"])
    schema = {"fields": [
        {"name": "k", "type": "int64"},
        {"name": "s", "type": "string"},
        {"name": "x", "type": "double"},
    ]}
    for fmt in ("orc", "parquet"):
        loc = str(tmp_path / fmt)
        df.coalesce(1).write.format(fmt).save(loc)
        catalog.create_generic_table(
            "wh", ["gfmt"], f"t_{fmt}", fmt, loc, schema=schema
        )
        got = read_generic_table(spark, catalog, "wh", ["gfmt"], f"t_{fmt}")
        assert sorted((r.k, r.s, r.x) for r in got.collect()) == [
            (1, "a", 2.5), (2, "b", 3.5)]
        assert [f.dataType.simpleString() for f in got.schema.fields] == [
            "bigint", "string", "double"]


def test_list_namespaces_page_size_zero(catalog):
    """page_size=0 returns an empty page without indexing out[-1]
    (ADVICE r4); list_tables already behaved this way."""
    catalog.create_namespace("wh", ["a"])
    catalog.create_namespace("wh", ["b"])
    page, tok = catalog.list_namespaces("wh", page_size=0)
    assert page == [] and tok is None
    page1, tok1 = catalog.list_namespaces("wh", page_size=1)
    assert page1 == [("a",)] and tok1 is not None
    page2, _ = catalog.list_namespaces("wh", page_token=tok1, page_size=10)
    assert page2 == [("b",)]
