"""PostgreSQL metastore backend: the same catalog semantics on the
reference's actual database (the reference is Postgres-only —
crates/lakekeeper-storage-postgres). Spins up a throwaway postgres
instance on a unix socket (trust auth) and drives the Metastore through
the pure-Python wire client (catalog/pgwire.py). Skipped when the
postgres server binaries are unavailable.
"""

from __future__ import annotations

import shutil
import subprocess
import tempfile
import threading
import time
import uuid
from pathlib import Path

import pytest

from lakekeeper_spark.catalog.catalog import (
    AlreadyExists,
    Catalog,
    CommitFailedException,
    NoSuchEntity,
)
from lakekeeper_spark.catalog.metastore import Metastore

SCHEMA = {
    "type": "struct",
    "fields": [{"id": 1, "name": "x", "type": "long", "required": False}],
}

pytestmark = pytest.mark.skipif(
    shutil.which("initdb") is None or shutil.which("pg_ctl") is None,
    reason="postgres server binaries unavailable",
)


def _run_as_nobody(cmd: str) -> subprocess.CompletedProcess:
    """postgres refuses to run as root; delegate to nobody (cwd must be
    readable by nobody, so run from /)."""
    return subprocess.run(
        ["su", "-s", "/bin/sh", "nobody", "-c", cmd],
        cwd="/",
        capture_output=True,
        text=True,
    )


@pytest.fixture(scope="module")
def pg_url():
    root = Path(tempfile.mkdtemp(prefix="lkspark_pg_"))
    data, sock = root / "data", root / "sock"
    sock.mkdir()
    import os

    os.chown(root, 65534, 65534)
    os.chown(sock, 65534, 65534)
    r = _run_as_nobody(f"initdb -D {data} -U lk")
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = _run_as_nobody(
        f"pg_ctl -D {data} -o '-k {sock} -c listen_addresses=' "
        f"-l {root}/log start"
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl failed: {r.stderr[-300:]}")
    try:
        deadline = time.time() + 15
        url = None
        while time.time() < deadline:
            if any(sock.glob(".s.PGSQL.*")):
                port = next(sock.glob(".s.PGSQL.*")).name.rsplit(".", 1)[-1]
                url = f"postgresql://lk@/postgres?host={sock}&port={port}"
                break
            time.sleep(0.2)
        if url is None:
            pytest.skip("postgres socket never appeared")
        yield url
    finally:
        _run_as_nobody(f"pg_ctl -D {data} -m immediate stop")
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture
def pg_store(pg_url):
    """A fresh database per test (CREATE DATABASE via the wire client)."""
    from lakekeeper_spark.catalog.pgwire import PgConnection

    dbname = "lk_" + uuid.uuid4().hex[:12]
    admin = PgConnection(pg_url)
    admin.execute_sql(f"CREATE DATABASE {dbname}")
    admin.close()
    base, q = pg_url.split("?", 1)
    user_host = base[len("postgresql://"):].split("/", 1)[0]
    yield Metastore(f"postgresql://{user_host}/{dbname}?{q}")


def test_pg_catalog_lifecycle(pg_store, tmp_path):
    cat = Catalog(pg_store)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    with pytest.raises(AlreadyExists):
        cat.create_warehouse("wh", str(tmp_path / "wh2"))
    cat.create_namespace("wh", ["a"])
    cat.create_namespace("wh", ["a", "b"])
    assert cat.list_namespaces("wh")[0] == [("a",)]
    assert cat.list_namespaces("wh", parent=("a",))[0] == [("a", "b")]
    meta = cat.create_table("wh", ["a", "b"], "T1", SCHEMA)
    # case-insensitive, case-preserving resolution
    got, _ = cat.load_table("wh", ["A", "B"], "t1")
    assert got["table-uuid"] == meta["table-uuid"]
    tables, _ = cat.list_tables("wh", ["a", "b"])
    assert tables == ["T1"]
    with pytest.raises(NoSuchEntity):
        cat.load_table("wh", ["a", "b"], "nope")


def test_pg_commit_cas_conflict(pg_store, tmp_path):
    """The optimistic-concurrency CAS must hold on postgres exactly as on
    sqlite: a stale-seq commit gets CommitFailedException."""
    cat = Catalog(pg_store)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    cat.create_table("wh", ["ns"], "t", SCHEMA)
    cat.commit_table(
        "wh", ["ns"], "t",
        requirements=[],
        updates=[{"action": "set-properties", "updates": {"k": "1"}}],
    )
    with pytest.raises(CommitFailedException):
        cat.commit_table(
            "wh", ["ns"], "t",
            requirements=[{"type": "assert-ref-snapshot-id",
                           "ref": "main", "snapshot-id": 999}],
            updates=[{"action": "set-properties", "updates": {"k": "2"}}],
        )
    meta, _ = cat.load_table("wh", ["ns"], "t")
    assert meta["properties"]["k"] == "1"


def test_pg_idempotency_key_applies_once_under_concurrency(
    pg_store, tmp_path, monkeypatch
):
    """On postgres BEGIN takes no write lock, so two requests with one
    Idempotency-Key can both pass the in-transaction re-check; the key
    insert (or the CAS) then decides, and the loser replays."""
    cat = Catalog(pg_store)
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["ns"])
    cat.create_table("wh", ["ns"], "t", SCHEMA)
    real_get = pg_store.idempotency_get
    barrier = threading.Barrier(2, timeout=20)
    calls = threading.local()

    def get(key):
        out = real_get(key)
        calls.n = getattr(calls, "n", 0) + 1
        if calls.n == 2:  # the re-check, inside the transaction
            barrier.wait()
        return out

    monkeypatch.setattr(pg_store, "idempotency_get", get)
    upds = [{"action": "set-properties", "updates": {"n": "1"}}]
    replies: list = []

    def commit():
        replies.append(
            cat.commit_table("wh", ["ns"], "t", [], upds, idempotency_key="k-1")
        )

    threads = [threading.Thread(target=commit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(replies) == 2
    assert replies[0] == replies[1]
    _, seq = cat.load_table("wh", ["ns"], "t")
    assert seq == 2


def test_pg_tasks_and_lifecycle(pg_store, tmp_path):
    from lakekeeper_spark.catalog import tasks as task_api
    from lakekeeper_spark.catalog.lifecycle import run_expiration_queue

    cat = Catalog(pg_store)
    cat.create_warehouse(
        "wh", str(tmp_path / "wh"), {"expiration-seconds": "3600"}
    )
    cat.create_namespace("wh", ["ns"])
    cat.create_table("wh", ["ns"], "t", SCHEMA)
    cat.drop_table("wh", ["ns"], "t")
    listing = task_api.list_tasks(cat, "wh", {})
    [info] = [
        t for t in listing["tasks"]
        if t["queue-name"] == "tabular_expiration"
    ]
    assert info["status"] == "SCHEDULED"
    tid = info["task-id"]
    # run-now + drain on postgres
    task_api.control_tasks(
        cat, "wh", {"action": {"action-type": "run-now"}, "task-ids": [tid]}
    )
    run_expiration_queue(cat)
    det = task_api.get_task_details(cat, "wh", tid)
    assert det["task"]["status"] == "SUCCESS"
    assert det["attempts"][0]["status"] == "SUCCESS"


def test_pg_users_roles_events(pg_store, tmp_path):
    from lakekeeper_spark.catalog import principals as pr
    from lakekeeper_spark.catalog import projects as pj

    cat = Catalog(pg_store)
    with cat.acting_as("oidc~admin"):
        pj.bootstrap(cat, {"accept-terms-of-use": True,
                           "user-name": "Admin", "user-type": "human"})
        pr.create_user(cat, {"id": "oidc~u", "name": "U",
                             "user-type": "human"})
        role = pr.create_role(cat, {"name": "team"})
        pr.add_role_members(cat, role["id"], {"members": [
            {"type": "user", "id": "oidc~u"}]})
        assert pr.effective_roles(cat, "oidc~u") == {"team"}
        with pytest.raises(AlreadyExists, match="RoleNameAlreadyExists"):
            pr.create_role(cat, {"name": "TEAM"})
    assert pj.server_info(cat)["bootstrapped"] is True
    # endpoint stats counter upsert works on pg
    pg_store.record_endpoint("load_table", "wh", 200)
    pg_store.record_endpoint("load_table", "wh", 200)
    row = pg_store.one(
        "SELECT count FROM endpoint_stats WHERE endpoint='load_table'", ()
    )
    assert row["count"] == 2


def test_pg_sqlite_equivalence(pg_store, tmp_path):
    """The same operation sequence produces the same observable catalog
    state on both backends."""
    stores = {
        "pg": pg_store,
        "sqlite": Metastore(str(tmp_path / "m.db")),
    }
    snapshots = {}
    for label, store in stores.items():
        cat = Catalog(store)
        cat.create_warehouse("wh", str(tmp_path / f"wh_{label}"))
        cat.create_namespace("wh", ["n1"])
        cat.create_namespace("wh", ["n1", "inner"])
        cat.create_table("wh", ["n1"], "alpha", SCHEMA)
        cat.create_table("wh", ["n1", "inner"], "beta", SCHEMA)
        cat.rename_table("wh", ["n1"], "alpha", ["n1"], "gamma")
        cat.drop_table("wh", ["n1", "inner"], "beta")
        namespaces, _ = cat.list_namespaces("wh")
        t1, _ = cat.list_tables("wh", ["n1"])
        t2, _ = cat.list_tables("wh", ["n1", "inner"])
        snapshots[label] = {
            "namespaces": [list(n) for n in namespaces],
            "n1": t1,
            "inner": t2,
            "warehouses": cat.list_warehouses(),
        }
    assert snapshots["pg"] == snapshots["sqlite"]


def test_pg_fga_grants_and_lifecycle(pg_store, tmp_path):
    """The fine-grained grant store (authz_tuples) on PostgreSQL:
    tuple writes (ON CONFLICT), the LIKE ESCAPE descendant probes, and
    the entity-lifecycle purge/move hooks all run in the common SQL
    dialect."""
    from lakekeeper_spark.catalog import fga
    from lakekeeper_spark.catalog.fga import FgaAuthorizer
    from lakekeeper_spark.catalog.identifiers import qualify, res_key

    cat = Catalog(pg_store, authorizer=FgaAuthorizer(pg_store, admins={"root"}))
    with cat.acting_as("root"):
        cat.create_warehouse("wh_f", str(tmp_path / "whf"))
        cat.create_namespace("wh_f", ["ns"])
        cat.create_table("wh_f", ["ns"], "t", SCHEMA)
        fga.update_assignments(
            cat,
            "table",
            {"writes": [{"type": "select", "user": "alice"}]},
            warehouse="wh_f",
            levels=["ns"],
            name="t",
        )
    # implication + top-down resolution on pg
    assert cat.authz.is_allowed("alice", "read_data", qualify("wh_f", res_key(["ns"], "t")))
    assert cat.authz.is_allowed("alice", "get_metadata", qualify("wh_f", res_key(["ns"], "t")))
    assert not cat.authz.is_allowed("alice", "write_data", qualify("wh_f", res_key(["ns"], "t")))
    # bottom-up navigation (LIKE ESCAPE path) + no underscore wildcarding
    assert cat.authz.is_allowed("alice", "include_in_list", qualify("wh_f", res_key(["ns"])))
    assert not cat.authz.is_allowed("alice", "include_in_list", qualify("whxf", res_key(["ns"])))
    # rename moves the tuples; hard drop purges them
    with cat.acting_as("root"):
        cat.rename_table("wh_f", ["ns"], "t", ["ns"], "t2")
    assert cat.authz.is_allowed("alice", "read_data", qualify("wh_f", res_key(["ns"], "t2")))
    with cat.acting_as("root"):
        cat.drop_table("wh_f", ["ns"], "t2", purge=True)
    assert (
        pg_store.one(
            "SELECT 1 FROM authz_tuples WHERE entity_key=?",
            (qualify("wh_f", res_key(["ns"], "t2")),),
        )
        is None
    )
