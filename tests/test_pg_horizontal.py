"""Horizontal scale-out over the shared Postgres metastore.

The reference's deployment claim is "no local state — scale the catalog
horizontally by running more stateless servers against one Postgres"
(README.md:58; crates/lakekeeper-storage-postgres). This suite turns
that into a test: TWO REST facade *processes* (tests/_pg_facade.py),
each with its own Metastore connection to one throwaway Postgres
database, driven concurrently over HTTP:

- entities created through one facade are immediately visible through
  the other (no facade-local state);
- optimistic concurrency holds across processes: racing commits with
  the same ``assert-ref-snapshot-id`` requirement — exactly one wins
  per round, every loser gets 409 CommitFailedException and succeeds
  after reloading (the reference's commit retry loop);
- ETag caching revalidates across facades: a commit through facade B
  invalidates the ETag facade A handed out (304 only while unchanged).

Skipped when the postgres server binaries are unavailable.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import threading
import uuid
from pathlib import Path

import pytest

from lakekeeper_spark.rest import RestCatalogClient
from lakekeeper_spark.catalog.catalog import CommitConflict, NotModified

# reuse the module-scoped throwaway-postgres fixture
from test_metastore_pg import pg_url  # noqa: F401

SCHEMA = {
    "type": "struct",
    "fields": [{"id": 1, "name": "x", "type": "long", "required": False}],
}

pytestmark = pytest.mark.skipif(
    shutil.which("initdb") is None or shutil.which("pg_ctl") is None,
    reason="postgres server binaries unavailable",
)


@pytest.fixture
def facade_pair(pg_url):  # noqa: F811 - pytest fixture injection
    """Two independent facade PROCESSES over one fresh Postgres db."""
    from lakekeeper_spark.catalog.pgwire import PgConnection

    dbname = "lk_" + uuid.uuid4().hex[:12]
    admin = PgConnection(pg_url)
    admin.execute_sql(f"CREATE DATABASE {dbname}")
    admin.close()
    base, q = pg_url.split("?", 1)
    user_host = base[len("postgresql://"):].split("/", 1)[0]
    db_url = f"postgresql://{user_host}/{dbname}?{q}"

    helper = Path(__file__).with_name("_pg_facade.py")
    procs, urls = [], []
    try:
        for _ in range(2):
            p = subprocess.Popen(
                [sys.executable, str(helper), db_url],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                text=True,
            )
            procs.append(p)
            line = p.stdout.readline().strip()
            assert line.startswith("http://"), f"facade failed: {line!r}"
            urls.append(line)
        yield RestCatalogClient(urls[0]), RestCatalogClient(urls[1])
    finally:
        for p in procs:
            try:
                p.stdin.close()
                p.wait(timeout=10)
            except Exception:
                p.kill()


def test_shared_state_across_processes(facade_pair, tmp_path):
    a, b = facade_pair
    a.create_warehouse("wh", str(tmp_path / "wh"))
    a.create_namespace("wh", ["ns"])
    a.create_table("wh", ["ns"], "t", SCHEMA)
    # facade B (a different OS process) sees everything instantly
    assert b.table_exists("wh", ["ns"], "t")
    meta_b, _ = b.load_table("wh", ["ns"], "t")
    meta_a, _ = a.load_table("wh", ["ns"], "t")
    assert meta_b["table-uuid"] == meta_a["table-uuid"]
    # mutation through B visible through A
    b.update_namespace_properties("wh", ["ns"], {"owner": "b"})
    assert a.namespace_properties("wh", ["ns"])["owner"] == "b"


def _commit_next(client, sid):
    """One optimistic commit: read main's snapshot id, try to advance it
    conditioned on what was read (the engine commit shape)."""
    meta, _ = client.load_table("wh", ["ns"], "t")
    cur = (meta.get("refs") or {}).get("main")
    cur_id = cur["snapshot-id"] if cur else None
    snap = {
        "snapshot-id": sid,
        "timestamp-ms": 1,
        "manifests": [],
        "summary": {"operation": "append"},
    }
    if cur_id is not None:
        snap["parent-snapshot-id"] = cur_id
    client.commit_table(
        "wh", ["ns"], "t",
        requirements=[{
            "type": "assert-ref-snapshot-id",
            "ref": "main",
            "snapshot-id": cur_id,
        }],
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": sid},
        ],
    )


def test_concurrent_commits_exactly_one_winner(facade_pair, tmp_path):
    a, b = facade_pair
    a.create_warehouse("wh", str(tmp_path / "wh"))
    a.create_namespace("wh", ["ns"])
    a.create_table("wh", ["ns"], "t", SCHEMA)

    n_workers, rounds = 4, 3
    conflicts = []
    lock = threading.Lock()

    def worker(idx):
        client = RestCatalogClient((a if idx % 2 == 0 else b).base_url)
        for r in range(rounds):
            sid = 1000 + idx * 100 + r
            while True:
                try:
                    _commit_next(client, sid)
                    break
                except CommitConflict:
                    with lock:
                        conflicts.append((idx, r))
                    # reference behavior: reload and retry the commit

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_workers)
    ]
    barrier_err = []
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        if t.is_alive():
            barrier_err.append(t)
    assert not barrier_err, "workers deadlocked"

    # every one of the 12 intended snapshots eventually landed, each CAS
    # round had exactly one winner (the chain is linear: every snapshot
    # parents the previous main), and the cross-process races produced
    # observable 409s
    meta, _ = a.load_table("wh", ["ns"], "t")
    snaps = {s["snapshot-id"] for s in meta["snapshots"]}
    assert len(snaps) == n_workers * rounds
    assert meta["refs"]["main"]["snapshot-id"] in snaps
    chain = 0
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    cur = meta["refs"]["main"]["snapshot-id"]
    while cur is not None:
        chain += 1
        cur = by_id[cur].get("parent-snapshot-id")
    assert chain == n_workers * rounds, "main's history must be linear"
    assert conflicts, "concurrent CAS must have produced retryable 409s"


def test_etag_revalidation_across_facades(facade_pair, tmp_path):
    a, b = facade_pair
    a.create_warehouse("wh", str(tmp_path / "wh"))
    a.create_namespace("wh", ["ns"])
    a.create_table("wh", ["ns"], "t", SCHEMA)
    _, etag = a.load_table("wh", ["ns"], "t")
    # unchanged -> facade A revalidates to 304
    with pytest.raises(NotModified):
        a.load_table("wh", ["ns"], "t", etag=etag)
    # a commit through facade B invalidates A's ETag
    _commit_next(b, 4242)
    meta2, etag2 = a.load_table("wh", ["ns"], "t", etag=etag)
    assert etag2 != etag
    assert meta2["refs"]["main"]["snapshot-id"] == 4242
    with pytest.raises(NotModified):
        b.load_table("wh", ["ns"], "t", etag=etag2)
