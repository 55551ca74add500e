"""Transactional metastore backed by SQLite.

The reference keeps all catalog state in Postgres ("no local state" —
README.md:58) with optimistic concurrency enforced inside a single write
transaction (server/tables.rs:1523 `try_commit_tables`). We reproduce that
with SQLite in WAL mode: every commit is BEGIN IMMEDIATE + compare-and-swap
on a monotonically increasing `metadata_seq` — the losing writer of a race
gets zero updated rows and surfaces CommitConflict, exactly the reference's
409 CommitFailedException semantics.

`metadata_seq` doubles as the ETag for conditional LoadTable
(reference: server/tables/load_table.rs:268-313 — If-None-Match -> 304).

Schema (mirrors the normalized layout of
lakekeeper-storage-postgres/migrations/, collapsed to what the engine
needs; metadata stays a JSON document because SQLite lacks the jsonb
indexing that motivated the reference's split):

  warehouses   name-folded PK, preserved name, properties (incl.
               format-version policy, delete profile), base location
  namespaces   hierarchical key (unit-separator joined, casefolded),
               preserved levels, properties, protection flag
  tabulars     tables/views/generic tables; metadata JSON + seq;
               soft-delete via deleted_at (tabular_expiration semantics)
  events       CloudEvents-shaped change log (service/events/types/)
  tasks        persistent task queue (service/tasks/mod.rs)
  idempotency  commit replay protection (migration 20260318120000)
  endpoint_stats per-endpoint hourly counters (endpoint_statistics/sink.rs)
"""

from __future__ import annotations

import json
import logging
import sqlite3
import threading
import time
import uuid
from typing import Any

_DDL = """
CREATE TABLE IF NOT EXISTS warehouses (
  wh_key TEXT PRIMARY KEY, name TEXT NOT NULL, location TEXT NOT NULL,
  properties TEXT NOT NULL DEFAULT '{}', protected INTEGER NOT NULL DEFAULT 0,
  created_ms INTEGER NOT NULL,
  project_id TEXT NOT NULL DEFAULT 'default',
  -- warehouse lifecycle (api/management/v1/warehouse/mod.rs;
  -- postgres warehouse.rs): stable uuid, active/inactive status,
  -- control-plane spec lock, storage profile + secret pointer
  wh_id TEXT, status TEXT NOT NULL DEFAULT 'active',
  managed_by TEXT NOT NULL DEFAULT 'self-managed',
  storage_profile TEXT, storage_secret_id TEXT, updated_ms INTEGER);
CREATE TABLE IF NOT EXISTS namespaces (
  wh_key TEXT NOT NULL, ns_key TEXT NOT NULL, ns_stored TEXT NOT NULL,
  properties TEXT NOT NULL DEFAULT '{}', protected INTEGER NOT NULL DEFAULT 0,
  created_ms INTEGER NOT NULL, updated_ms INTEGER,
  PRIMARY KEY (wh_key, ns_key));
CREATE TABLE IF NOT EXISTS tabulars (
  id TEXT PRIMARY KEY, wh_key TEXT NOT NULL, ns_key TEXT NOT NULL,
  name_key TEXT NOT NULL, name TEXT NOT NULL,
  kind TEXT NOT NULL CHECK (kind IN ('table','view','generic')),
  metadata TEXT NOT NULL, metadata_seq INTEGER NOT NULL DEFAULT 1,
  location TEXT, format TEXT, protected INTEGER NOT NULL DEFAULT 0,
  deleted_ms INTEGER, created_ms INTEGER NOT NULL, updated_ms INTEGER NOT NULL);
CREATE UNIQUE INDEX IF NOT EXISTS tabular_ident
  ON tabulars (wh_key, ns_key, name_key, kind) WHERE deleted_ms IS NULL;
CREATE INDEX IF NOT EXISTS tabular_location ON tabulars (location);
CREATE TABLE IF NOT EXISTS events (
  seq INTEGER PRIMARY KEY AUTOINCREMENT, ts_ms INTEGER NOT NULL,
  event_type TEXT NOT NULL, wh_key TEXT, entity TEXT, payload TEXT);
CREATE TABLE IF NOT EXISTS tasks (
  task_id INTEGER PRIMARY KEY AUTOINCREMENT, queue TEXT NOT NULL,
  payload TEXT NOT NULL, status TEXT NOT NULL DEFAULT 'pending',
  scheduled_ms INTEGER NOT NULL, attempts INTEGER NOT NULL DEFAULT 0,
  picked_ms INTEGER, last_heartbeat_ms INTEGER, finished_ms INTEGER,
  error TEXT,
  -- task-management surface (api/management/v1/tasks.rs): warehouse +
  -- entity scoping, progress reporting, sub-task linkage
  wh_key TEXT, entity TEXT, entity_name TEXT,
  parent_task_id INTEGER, progress REAL NOT NULL DEFAULT 0,
  execution_details TEXT, created_ms INTEGER, updated_ms INTEGER);
CREATE INDEX IF NOT EXISTS task_wh ON tasks (wh_key, queue, status);
CREATE TABLE IF NOT EXISTS task_log (
  -- per-attempt history (reference task_log table: every terminal or
  -- superseded attempt is archived for GetTaskDetails)
  task_id INTEGER NOT NULL, attempt INTEGER NOT NULL,
  queue TEXT NOT NULL, wh_key TEXT, status TEXT NOT NULL, message TEXT,
  scheduled_ms INTEGER, started_ms INTEGER, duration_ms INTEGER,
  progress REAL NOT NULL DEFAULT 0, execution_details TEXT,
  created_ms INTEGER NOT NULL, PRIMARY KEY (task_id, attempt));
CREATE TABLE IF NOT EXISTS task_config (
  -- per-warehouse queue config (reference task_config; SetTaskQueueConfig)
  queue TEXT NOT NULL, wh_key TEXT NOT NULL DEFAULT '',
  config TEXT NOT NULL, max_seconds_since_last_heartbeat INTEGER,
  PRIMARY KEY (queue, wh_key));
CREATE TABLE IF NOT EXISTS idempotency (
  key TEXT PRIMARY KEY, response TEXT NOT NULL, created_ms INTEGER NOT NULL);
CREATE TABLE IF NOT EXISTS endpoint_stats (
  endpoint TEXT NOT NULL, wh_key TEXT, hour INTEGER NOT NULL,
  status INTEGER NOT NULL, count INTEGER NOT NULL DEFAULT 0,
  PRIMARY KEY (endpoint, wh_key, hour, status));
CREATE TABLE IF NOT EXISTS warehouse_stats_history (
  wh_key TEXT NOT NULL, hour INTEGER NOT NULL,
  n_tables INTEGER NOT NULL, n_views INTEGER NOT NULL,
  updated_ms INTEGER NOT NULL, PRIMARY KEY (wh_key, hour));
CREATE TABLE IF NOT EXISTS metrics_reports (
  seq INTEGER PRIMARY KEY AUTOINCREMENT, ts_ms INTEGER NOT NULL,
  wh_key TEXT NOT NULL, entity TEXT NOT NULL, report_type TEXT NOT NULL,
  report TEXT NOT NULL);
CREATE TABLE IF NOT EXISTS users (
  -- user provisioning (api/management/v1/user.rs; postgres user.rs):
  -- id is the <idp>~<subject> principal, soft-deleted like the reference
  id TEXT PRIMARY KEY, name TEXT NOT NULL, email TEXT,
  user_type TEXT NOT NULL CHECK (user_type IN ('human','application')),
  last_updated_with TEXT NOT NULL,
  created_ms INTEGER NOT NULL, updated_ms INTEGER, deleted_ms INTEGER);
CREATE TABLE IF NOT EXISTS roles (
  -- role CRUD (api/management/v1/role.rs): uuid id, project-scoped
  -- case-insensitive-unique name, provider~source external ident
  id TEXT PRIMARY KEY, project_id TEXT NOT NULL DEFAULT 'default',
  provider_id TEXT NOT NULL, source_id TEXT NOT NULL,
  name TEXT NOT NULL, name_key TEXT NOT NULL, description TEXT,
  created_ms INTEGER NOT NULL, updated_ms INTEGER);
CREATE UNIQUE INDEX IF NOT EXISTS unique_role_name_in_project
  ON roles (project_id, name_key);
CREATE UNIQUE INDEX IF NOT EXISTS unique_role_provider_source_in_project
  ON roles (project_id, provider_id, source_id);
CREATE TABLE IF NOT EXISTS projects (
  -- multi-project hierarchy above warehouses (api/management/v1/
  -- project.rs; postgres warehouse.rs:295 delete guard)
  id TEXT PRIMARY KEY, name TEXT NOT NULL, created_ms INTEGER NOT NULL);
CREATE TABLE IF NOT EXISTS server_info (
  -- bootstrap-once state (api/management/v1/server.rs:186; postgres
  -- bootstrap.rs): a single row created at first open
  id INTEGER PRIMARY KEY CHECK (id = 1), server_id TEXT NOT NULL,
  bootstrapped INTEGER NOT NULL DEFAULT 0, terms_accepted INTEGER,
  bootstrap_user TEXT, is_operator INTEGER, bootstrap_ms INTEGER);
CREATE TABLE IF NOT EXISTS role_members (
  -- membership edges (role_membership.rs / postgres role_assignment.rs):
  -- user->role assignments and role->role inheritance in one typed table
  role_id TEXT NOT NULL, member_kind TEXT NOT NULL
    CHECK (member_kind IN ('user','role')),
  member_id TEXT NOT NULL, created_ms INTEGER NOT NULL,
  PRIMARY KEY (role_id, member_kind, member_id));
CREATE INDEX IF NOT EXISTS role_members_by_member
  ON role_members (member_kind, member_id);
CREATE TABLE IF NOT EXISTS authz_tuples (
  -- fine-grained grants (the reference's OpenFGA tuples,
  -- authz-openfga/src/tuples.rs): entity key -> relation -> assignee
  -- ('user:<id>' | 'role:<uuid>' | 'flag' for managed_access)
  entity_key TEXT NOT NULL, relation TEXT NOT NULL, assignee TEXT NOT NULL,
  created_ms INTEGER NOT NULL,
  PRIMARY KEY (entity_key, relation, assignee));
CREATE INDEX IF NOT EXISTS authz_by_assignee ON authz_tuples (assignee);
CREATE TABLE IF NOT EXISTS secrets (
  -- warehouse storage credentials (reference secret store: postgres
  -- migrations/03_secret.sql encrypted with pgcrypto, or the Vault kv2
  -- crate). Values are stored verbatim here; the encryption-at-rest /
  -- Vault backend is the cloud swap-in point.
  id TEXT PRIMARY KEY, kind TEXT NOT NULL, value TEXT NOT NULL,
  created_ms INTEGER NOT NULL, updated_ms INTEGER);
"""


#: PRAGMA user_version the current _DDL corresponds to. Bump whenever a
#: table gains columns and record the additions in _COLUMN_MIGRATIONS —
#: the reference ships explicit migrations
#: (lakekeeper-storage-postgres/migrations/, 60+ files); this is the
#: SQLite-weight equivalent so an existing metastore.db upgrades in place
#: instead of raising OperationalError on the new columns.
_SCHEMA_VERSION = 6  # v3: users/roles/role_members (new tables only);
# v4: projects + server_info tables, warehouses.project_id column
# v5: warehouse lifecycle columns (status/managed_by/storage profile) +
#     secrets table
# v6: authz_tuples (fine-grained grants; new table only)

#: table -> {column: declaration} added after that table first shipped.
#: SQLite ALTER TABLE ADD COLUMN cannot add NOT NULL without a default,
#: so every entry carries one where needed.
_COLUMN_MIGRATIONS: dict[str, dict[str, str]] = {
    "tasks": {
        # task-management surface (round 11, api/management/v1/tasks.rs)
        "wh_key": "TEXT",
        "entity": "TEXT",
        "entity_name": "TEXT",
        "parent_task_id": "INTEGER",
        "progress": "REAL NOT NULL DEFAULT 0",
        "execution_details": "TEXT",
        "created_ms": "INTEGER",
        "updated_ms": "INTEGER",
    },
    "warehouses": {
        # project scoping (round 12, api/management/v1/project.rs)
        "project_id": "TEXT NOT NULL DEFAULT 'default'",
        # warehouse lifecycle (round 12, warehouse/mod.rs)
        "wh_id": "TEXT",
        "status": "TEXT NOT NULL DEFAULT 'active'",
        "managed_by": "TEXT NOT NULL DEFAULT 'self-managed'",
        "storage_profile": "TEXT",
        "storage_secret_id": "TEXT",
        "updated_ms": "INTEGER",
    },
    "namespaces": {
        # ProtectionResponse.updated_at (round 12, management/mod.rs:1648)
        "updated_ms": "INTEGER",
    },
}


def now_ms() -> int:
    return int(time.time() * 1000)


def new_uuid() -> str:
    return str(uuid.uuid4())


def _pg_ddl(ddl: str) -> str:
    """Translate the SQLite DDL to PostgreSQL: identity PKs, 64-bit
    integers (epoch-millis columns overflow int4), double precision.
    Everything else in the schema — partial indexes, CHECK constraints,
    ON CONFLICT — is already common SQL."""
    out = ddl.replace(
        "INTEGER PRIMARY KEY AUTOINCREMENT",
        "BIGINT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY",
    )
    out = out.replace("INTEGER", "BIGINT").replace("REAL", "DOUBLE PRECISION")
    return out


class _PgAdapter:
    """sqlite3.Connection-shaped facade over pgwire.PgConnection: the
    Metastore calls execute/executescript/commit/in_transaction only."""

    def __init__(self, url: str):
        from .pgwire import PgConnection

        self._pg = PgConnection(url)

    @property
    def in_transaction(self) -> bool:
        return self._pg.in_transaction

    def execute(self, sql: str, params: tuple = ()):
        from .pgwire import bind_placeholders

        if sql == "BEGIN IMMEDIATE":
            sql = "BEGIN"
        if params:
            sql = bind_placeholders(sql, tuple(params))
        return self._pg.execute_sql(sql)

    def executescript(self, script: str):
        return self._pg.execute_sql(script)

    def commit(self) -> None:
        if self._pg.in_transaction:
            self._pg.execute_sql("COMMIT")

    def close(self) -> None:
        self._pg.close()


class Metastore:
    """Thread-safe transactional store: SQLite (file path, the default)
    or PostgreSQL (a ``postgresql://`` URL — the reference's only
    backend) behind one connection-per-thread facade. The SQL surface is
    the common dialect; backend-specific bits live in ``_pg_ddl`` /
    ``_PgAdapter`` / ``insert_returning``."""

    def __init__(self, path: str):
        self.path = path
        self.is_postgres = path.startswith(("postgresql://", "postgres://"))
        self._local = threading.local()
        # external change-event backends (catalog/events.py): each receives
        # a CloudEvents envelope AFTER the surrounding transaction commits
        self.publishers: list[Any] = []
        # post-commit events a failing backend lost (observability only;
        # delivery stays best-effort)
        self.dropped_events = 0
        # storage-credential backend (catalog/secrets.py): the secrets
        # table by default, swappable for Vault KV2
        # (service/secrets.rs SecretStore; crates/lakekeeper-secrets-kv2)
        self._secret_store = None
        con = self.con
        if self.is_postgres:
            con.executescript(_pg_ddl(_DDL))
            # ADD COLUMN IF NOT EXISTS covers pre-existing databases (the
            # SQLite path needs PRAGMA bookkeeping instead)
            for table, cols in _COLUMN_MIGRATIONS.items():
                for col, decl in cols.items():
                    con.execute(
                        f"ALTER TABLE {table} ADD COLUMN IF NOT EXISTS"
                        f" {col} {_pg_ddl(decl)}"
                    )
        else:
            self._migrate(con)
            con.executescript(_DDL)
            con.execute(f"PRAGMA user_version = {_SCHEMA_VERSION}")
        # one server-info row per database (postgres bootstrap.rs: the
        # server row is created on first open, bootstrap flips the flag)
        con.execute(
            "INSERT INTO server_info (id, server_id) VALUES (1, ?)"
            " ON CONFLICT (id) DO NOTHING",
            (new_uuid(),),
        )
        con.commit()

    @staticmethod
    def _migrate(con: sqlite3.Connection) -> None:
        """In-place column migration for databases created by an older
        _DDL. Must run BEFORE the DDL script: ``CREATE INDEX IF NOT
        EXISTS task_wh`` references tasks.wh_key, which an old database
        doesn't have yet."""
        ver = con.execute("PRAGMA user_version").fetchone()[0]
        if ver >= _SCHEMA_VERSION:
            return
        for table, cols in _COLUMN_MIGRATIONS.items():
            exists = con.execute(
                "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
                (table,),
            ).fetchone()
            if not exists:
                continue  # fresh DB: the DDL script creates it complete
            have = {r[1] for r in con.execute(f"PRAGMA table_info({table})")}
            for col, decl in cols.items():
                if col not in have:
                    con.execute(f"ALTER TABLE {table} ADD COLUMN {col} {decl}")

    @property
    def con(self):
        con = getattr(self._local, "con", None)
        if con is None:
            if self.is_postgres:
                con = _PgAdapter(self.path)
            else:
                con = sqlite3.connect(
                    self.path, timeout=30, isolation_level=None
                )
                con.execute("PRAGMA journal_mode=WAL")
                con.execute("PRAGMA foreign_keys=ON")
                con.row_factory = sqlite3.Row
            self._local.con = con
        return con

    def insert_returning(self, sql: str, params: tuple, id_col: str) -> int:
        """INSERT returning the new autoincrement id — sqlite lastrowid
        vs the PostgreSQL RETURNING clause."""
        if self.is_postgres:
            cur = self.con.execute(f"{sql} RETURNING {id_col}", params)
            return int(cur.fetchone()[0])
        return int(self.con.execute(sql, params).lastrowid)

    # -- transactions ---------------------------------------------------
    def begin(self) -> None:
        self.con.execute("BEGIN IMMEDIATE")

    def commit(self) -> None:
        self.con.execute("COMMIT")
        self._flush_pending()

    def rollback(self) -> None:
        try:
            self.con.execute("ROLLBACK")
        except sqlite3.OperationalError:
            pass
        except Exception as exc:  # pragma: no cover - pg path
            from .pgwire import PgError

            if not isinstance(exc, PgError):
                raise
        # a rolled-back mutation publishes nothing externally
        self._pending().clear()

    def _pending(self) -> list[dict[str, Any]]:
        buf = getattr(self._local, "pending_events", None)
        if buf is None:
            buf = self._local.pending_events = []
        return buf

    def _flush_pending(self) -> None:
        buf = self._pending()
        for event in buf:
            for p in self.publishers:
                try:
                    p.publish(event)
                except Exception as exc:  # noqa: BLE001 — sink failure
                    # never fails a committed catalog mutation, but the
                    # loss is OBSERVABLE (the reference logs publishing
                    # errors): warn + count so sink outages surface
                    self.dropped_events += 1
                    logging.getLogger(__name__).warning(
                        "event publisher %s dropped %s: %s",
                        type(p).__name__,
                        event.get("type", "<event>"),
                        exc,
                    )
        buf.clear()

    @property
    def secret_store(self):
        from .secrets import MetastoreSecretStore

        if self._secret_store is None:
            self._secret_store = MetastoreSecretStore(self)
        return self._secret_store

    @secret_store.setter
    def secret_store(self, backend) -> None:
        self._secret_store = backend

    # -- generic helpers ------------------------------------------------
    def query(self, sql: str, params: tuple = ()) -> list[sqlite3.Row]:
        return self.con.execute(sql, params).fetchall()

    def one(self, sql: str, params: tuple = ()) -> sqlite3.Row | None:
        return self.con.execute(sql, params).fetchone()

    def execute(self, sql: str, params: tuple = ()) -> sqlite3.Cursor:
        return self.con.execute(sql, params)

    # -- events / stats -------------------------------------------------
    def emit_event(
        self, event_type: str, wh_key: str | None, entity: str | None, payload: dict[str, Any]
    ) -> None:
        ts = now_ms()
        self.con.execute(
            "INSERT INTO events (ts_ms, event_type, wh_key, entity, payload)"
            " VALUES (?,?,?,?,?)",
            (ts, event_type, wh_key, entity, json.dumps(payload)),
        )
        if self.publishers:
            from .events import cloud_event

            self._pending().append(cloud_event(event_type, wh_key, entity, ts, payload))
            if not self.con.in_transaction:  # autocommit: already durable
                self._flush_pending()

    # -- fine-grained grant tuples (catalog/fga.py) -----------------------
    # The reference deletes authorizer tuples when the entity goes away
    # (e.g. authorizer.delete_warehouse in the DeleteWarehouse handler,
    # api/management/v1/warehouse/mod.rs:722) — without this, a recreated
    # same-name entity would inherit the old entity's grants.
    def purge_authz_entity(
        self, entity_key: str, child_sep: str | tuple[str, ...] | None = None
    ) -> int:
        """Remove every grant ON an entity and, with ``child_sep``, on
        all its descendants. The separator(s) are explicit per entity
        kind — QSEP nests under a warehouse key; a namespace has BOTH
        SEP (child namespaces) and TSEP (direct tabulars) children
        (catalog/identifiers.py). Identifiers cannot contain the
        separators, so a prefix purge never reaches a sibling."""
        n = self.execute(
            "DELETE FROM authz_tuples WHERE entity_key=?", (entity_key,)
        ).rowcount
        seps = (child_sep,) if isinstance(child_sep, str) else (child_sep or ())
        pat = entity_key.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        for sep in seps:
            n += self.execute(
                "DELETE FROM authz_tuples WHERE entity_key LIKE ? ESCAPE '\\'",
                (pat + sep + "%",),
            ).rowcount
        return n

    def purge_authz_assignee(self, assignee: str) -> int:
        """Remove every grant HELD BY a principal ('user:<id>' /
        'role:<uuid>') — the reference drops a deleted user/role's
        permissions everywhere."""
        return self.execute(
            "DELETE FROM authz_tuples WHERE assignee=?", (assignee,)
        ).rowcount

    def move_authz_entity(
        self,
        old_key: str,
        new_key: str,
        child_sep: str | tuple[str, ...] | None = None,
    ) -> None:
        """Re-key grants when an entity is renamed, so they follow it
        (``child_sep`` as in purge_authz_entity)."""
        self.execute(
            "UPDATE authz_tuples SET entity_key=? WHERE entity_key=?",
            (new_key, old_key),
        )
        seps = (child_sep,) if isinstance(child_sep, str) else (child_sep or ())
        pat = old_key.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        for sep in seps:
            old_pre, new_pre = old_key + sep, new_key + sep
            for r in self.query(
                "SELECT entity_key FROM authz_tuples WHERE entity_key"
                " LIKE ? ESCAPE '\\'",
                (pat + sep + "%",),
            ):
                self.execute(
                    "UPDATE authz_tuples SET entity_key=? WHERE entity_key=?",
                    (new_pre + r["entity_key"][len(old_pre):], r["entity_key"]),
                )

    def record_endpoint(self, endpoint: str, wh_key: str | None, status: int = 200) -> None:
        hour = now_ms() // 3_600_000
        self.con.execute(
            "INSERT INTO endpoint_stats (endpoint, wh_key, hour, status, count)"
            " VALUES (?,?,?,?,1)"
            " ON CONFLICT(endpoint, wh_key, hour, status)"
            " DO UPDATE SET count = endpoint_stats.count + 1",
            (endpoint, wh_key or "", hour, status),
        )

    def record_metrics_report(
        self, wh_key: str, entity: str, report_type: str, report: dict[str, Any]
    ) -> None:
        """Engine scan/commit report sink (reference ReportMetrics,
        api/iceberg/v1/metrics.rs:40-66 — accepts arbitrary JSON)."""
        self.con.execute(
            "INSERT INTO metrics_reports (ts_ms, wh_key, entity, report_type, report)"
            " VALUES (?,?,?,?,?)",
            (now_ms(), wh_key, entity, report_type, json.dumps(report)),
        )

    # -- tasks ----------------------------------------------------------
    def enqueue_task(
        self,
        queue: str,
        payload: dict[str, Any],
        delay_ms: int = 0,
        wh_key: str | None = None,
        entity: dict[str, Any] | None = None,
        entity_name: list[str] | None = None,
        parent_task_id: int | None = None,
    ) -> int:
        """Schedule one task. ``wh_key``/``entity``/``entity_name`` scope it
        for the task-management API (WarehouseTaskInfo fields,
        api/management/v1/tasks.rs:83-120); workers only need queue+payload."""
        return self.insert_returning(
            "INSERT INTO tasks (queue, payload, status, scheduled_ms,"
            " wh_key, entity, entity_name, parent_task_id, created_ms, updated_ms)"
            " VALUES (?,?,?,?,?,?,?,?,?,?)",
            (
                queue,
                json.dumps(payload),
                "pending",
                now_ms() + delay_ms,
                wh_key,
                # canonical (sorted-key) JSON so entity equality filters
                # and the one-active-task uniqueness check are stable
                json.dumps(entity, sort_keys=True) if entity is not None else None,
                json.dumps(entity_name) if entity_name is not None else None,
                parent_task_id,
                now_ms(),
                now_ms(),
            ),
            "task_id",
        )

    def _archive_attempt(
        self, task_id: int, status: str, message: str | None
    ) -> None:
        """Copy the task's CURRENT attempt into task_log (the reference
        archives every terminal/superseded attempt to its task_log table
        so GetTaskDetails can show history)."""
        self.con.execute(
            "INSERT INTO task_log (task_id, attempt, queue, wh_key,"
            " status, message, scheduled_ms, started_ms, duration_ms,"
            " progress, execution_details, created_ms)"
            " SELECT task_id, attempts, queue, wh_key, ?, ?, scheduled_ms,"
            " picked_ms, CASE WHEN picked_ms IS NOT NULL THEN ? - picked_ms END,"
            " progress, execution_details, ? FROM tasks WHERE task_id=?"
            " ON CONFLICT (task_id, attempt) DO NOTHING",
            (status, message, now_ms(), now_ms(), task_id),
        )

    def pick_tasks(self, queue: str, limit: int = 10) -> list[dict[str, Any]]:
        self.begin()
        try:
            rows = self.query(
                "SELECT task_id, payload, attempts, wh_key, entity, entity_name"
                " FROM tasks"
                " WHERE queue = ? AND status = 'pending' AND scheduled_ms <= ?"
                " ORDER BY scheduled_ms LIMIT ?",
                (queue, now_ms(), limit),
            )
            for r in rows:
                self.execute(
                    "UPDATE tasks SET status='running', picked_ms=?, last_heartbeat_ms=?,"
                    " attempts=attempts+1 WHERE task_id=?",
                    (now_ms(), now_ms(), r["task_id"]),
                )
            self.commit()
        except BaseException:
            self.rollback()
            raise
        return [
            {
                "task_id": r["task_id"],
                "payload": json.loads(r["payload"]),
                # current attempt number (the UPDATE above incremented it)
                "attempts": r["attempts"] + 1,
                "wh_key": r["wh_key"],
                "entity": json.loads(r["entity"]) if r["entity"] else None,
                "entity_name": (
                    json.loads(r["entity_name"]) if r["entity_name"] else None
                ),
            }
            for r in rows
        ]

    def finish_task(self, task_id: int, error: str | None = None) -> None:
        if error is None:
            self._archive_attempt(task_id, "done", None)
            self.con.execute(
                "UPDATE tasks SET status='done', finished_ms=?, progress=1.0,"
                " updated_ms=? WHERE task_id=?",
                (now_ms(), now_ms(), task_id),
            )
        else:
            self._archive_attempt(task_id, "error", error)
            self.con.execute(
                "UPDATE tasks SET status='error', finished_ms=?, error=?,"
                " updated_ms=? WHERE task_id=?",
                (now_ms(), error, now_ms(), task_id),
            )

    def heartbeat_task(self, task_id: int) -> None:
        """Worker liveness signal (reference heartbeats every 120 s,
        service/tasks/tabular_expiration_queue.rs:70-72)."""
        self.con.execute(
            "UPDATE tasks SET last_heartbeat_ms=? WHERE task_id=? AND status='running'",
            (now_ms(), task_id),
        )

    def fail_task(
        self, task_id: int, error: str, max_attempts: int = 5, backoff_ms: int = 1000
    ) -> str:
        """Failure with retry: requeue with exponential backoff until
        max_attempts, then park as terminal 'error' (reference retry
        semantics, service/tasks/task_registry.rs). Returns the resulting
        status ('pending' or 'error')."""
        row = self.one("SELECT attempts FROM tasks WHERE task_id=?", (task_id,))
        if row is None:
            return "error"
        self._archive_attempt(task_id, "error", error)
        if row["attempts"] >= max_attempts:
            self.con.execute(
                "UPDATE tasks SET status='error', finished_ms=?, error=?,"
                " updated_ms=? WHERE task_id=?",
                (now_ms(), error, now_ms(), task_id),
            )
            return "error"
        delay = backoff_ms * (2 ** max(row["attempts"] - 1, 0))
        self.con.execute(
            "UPDATE tasks SET status='pending', scheduled_ms=?, error=?,"
            " progress=0, execution_details=NULL, last_heartbeat_ms=NULL,"
            " picked_ms=NULL, updated_ms=? WHERE task_id=?",
            (now_ms() + delay, error, now_ms(), task_id),
        )
        return "pending"

    def reap_stale_tasks(
        self,
        heartbeat_timeout_ms: int = 120_000,
        max_attempts: int = 5,
        backoff_ms: int = 1000,
    ) -> int:
        """Requeue (or park) running tasks whose worker stopped
        heartbeating — crash recovery for the queue. Returns #reaped."""
        horizon = now_ms() - heartbeat_timeout_ms
        rows = self.query(
            "SELECT task_id FROM tasks WHERE status='running'"
            " AND COALESCE(last_heartbeat_ms, picked_ms) < ?",
            (horizon,),
        )
        for r in rows:
            self.fail_task(
                r["task_id"], "worker heartbeat lost", max_attempts, backoff_ms
            )
        return len(rows)

    def cleanup_task_log(self, older_than_ms: int) -> int:
        """Delete terminal task rows finished before the horizon (reference
        task-log cleanup, service/tasks/mod.rs). Returns #deleted."""
        cur = self.con.execute(
            "DELETE FROM tasks WHERE status IN ('done','error','cancelled')"
            " AND COALESCE(finished_ms, 0) < ?",
            (older_than_ms,),
        )
        return cur.rowcount

    def cancel_tasks(self, queue: str, match: str) -> int:
        cur = self.con.execute(
            "UPDATE tasks SET status='cancelled' WHERE queue=? AND status='pending'"
            " AND payload LIKE ?",
            (queue, f"%{match}%"),
        )
        return cur.rowcount

    # -- task management (api/management/v1/tasks.rs semantics) ----------
    def check_and_heartbeat(
        self,
        task_id: int,
        progress: float | None = None,
        execution_details: dict[str, Any] | None = None,
    ) -> str:
        """Worker heartbeat WITH progress reporting + stop-signal read
        (check_and_heartbeat_task, lakekeeper-storage-postgres/src/
        tasks.rs:989-1024): returns 'continue' while running, 'stop' when
        an operator requested stop or rescheduled the attempt, and
        'not-active' when the task is no longer live."""
        self.con.execute(
            "UPDATE tasks SET last_heartbeat_ms=?, updated_ms=?,"
            " progress=COALESCE(?, progress),"
            " execution_details=COALESCE(?, execution_details)"
            " WHERE task_id=? AND status IN ('running','should-stop')",
            (
                now_ms(),
                now_ms(),
                progress,
                json.dumps(execution_details) if execution_details else None,
                task_id,
            ),
        )
        row = self.one("SELECT status FROM tasks WHERE task_id=?", (task_id,))
        if row is None or row["status"] not in ("running", "should-stop", "pending"):
            return "not-active"
        if row["status"] == "running":
            return "continue"
        # should-stop, or rescheduled back to pending mid-attempt
        return "stop"

    def stop_tasks(self, task_ids: list[int]) -> int:
        """Graceful stop request (request_tasks_stop, postgres/tasks.rs:874):
        only RUNNING tasks transition to should-stop; the worker sees the
        signal on its next heartbeat and the task will be retried."""
        qmarks = ",".join("?" * len(task_ids))
        cur = self.con.execute(
            f"UPDATE tasks SET status='should-stop', updated_ms=?"
            f" WHERE task_id IN ({qmarks}) AND status='running'",
            (now_ms(), *task_ids),
        )
        return cur.rowcount

    def run_tasks_at(
        self, task_ids: list[int], scheduled_ms: int | None = None
    ) -> int:
        """Reschedule (RunNow / RunAt): only tasks in SCHEDULED or
        STOPPING move (reschedule_tasks_for, postgres/tasks.rs:898-975);
        a should-stop attempt that gets rescheduled is archived as a
        FAILED attempt with the reference's message, and the task resets
        to a clean scheduled state."""
        when = now_ms() if scheduled_ms is None else scheduled_ms
        moved = 0
        for tid in task_ids:
            row = self.one(
                "SELECT status FROM tasks WHERE task_id=?", (tid,)
            )
            if row is None or row["status"] not in ("pending", "should-stop"):
                continue
            if row["status"] == "should-stop":
                self._archive_attempt(
                    tid,
                    "error",
                    "Task did not stop in time before being rescheduled.",
                )
            self.con.execute(
                "UPDATE tasks SET status='pending', scheduled_ms=?,"
                " progress=0, execution_details=NULL, last_heartbeat_ms=NULL,"
                " picked_ms=NULL, updated_ms=? WHERE task_id=?",
                (when, now_ms(), tid),
            )
            moved += 1
        return moved

    def cancel_tasks_by_id(
        self, task_ids: list[int], force_running: bool = True
    ) -> int:
        """Cancel permanently — a FINAL state, never retried
        (cancel_scheduled_tasks, postgres/tasks.rs:1030). Scheduled tasks
        always cancel; running/should-stop ones only when
        ``force_running`` (the management API passes true)."""
        states = ("pending", "running", "should-stop") if force_running else ("pending",)
        n = 0
        for tid in task_ids:
            row = self.one("SELECT status FROM tasks WHERE task_id=?", (tid,))
            if row is None or row["status"] not in states:
                continue
            self._archive_attempt(tid, "cancelled", None)
            self.con.execute(
                "UPDATE tasks SET status='cancelled', finished_ms=?,"
                " updated_ms=? WHERE task_id=?",
                (now_ms(), now_ms(), tid),
            )
            n += 1
        return n

    def get_task(self, task_id: int) -> dict[str, Any] | None:
        row = self.one("SELECT * FROM tasks WHERE task_id=?", (task_id,))
        return dict(row) if row else None

    def task_attempts(self, task_id: int, limit: int = 5) -> list[dict[str, Any]]:
        """Archived attempt history, newest first (GetTaskDetails
        num_attempts semantics, tasks.rs:606-612)."""
        return [
            dict(r)
            for r in self.query(
                "SELECT * FROM task_log WHERE task_id=?"
                " ORDER BY attempt DESC LIMIT ?",
                (task_id, limit),
            )
        ]

    def list_tasks_admin(
        self,
        wh_key: str | None = None,
        statuses: list[str] | None = None,
        queues: list[str] | None = None,
        entities: list[str] | None = None,
        created_after_ms: int | None = None,
        created_before_ms: int | None = None,
        page_size: int = 100,
        page_token: str | None = None,
    ) -> tuple[list[dict[str, Any]], str | None]:
        """Filtered, keyset-paginated task listing (ListTasksRequest,
        tasks.rs:518-552). ``entities`` are canonical JSON strings matched
        against the stored entity document; ``statuses`` are INTERNAL
        status names (the service layer maps wire names)."""
        where, params = [], []
        if isinstance(wh_key, (list, tuple, set)):
            keys = sorted(wh_key)
            # project scope (ListProjectTasks, postgres tasks.rs:1183):
            # every warehouse in the project, plus unscoped rows
            where.append(
                f"(wh_key IN ({','.join('?' * len(keys))})"
                " OR wh_key IS NULL)"
            )
            params.extend(keys)
        elif wh_key is not None:
            where.append("wh_key=?")
            params.append(wh_key)
        for col, vals in (("status", statuses), ("queue", queues), ("entity", entities)):
            if vals is not None:
                where.append(f"{col} IN ({','.join('?' * len(vals))})")
                params.extend(vals)
        if created_after_ms is not None:
            where.append("created_ms > ?")
            params.append(created_after_ms)
        if created_before_ms is not None:
            where.append("created_ms < ?")
            params.append(created_before_ms)
        if page_token is not None:
            where.append("task_id > ?")
            params.append(int(page_token))
        clause = (" WHERE " + " AND ".join(where)) if where else ""
        rows = self.query(
            f"SELECT * FROM tasks{clause} ORDER BY task_id LIMIT ?",
            (*params, page_size + 1),
        )
        out = [dict(r) for r in rows[:page_size]]
        next_token = str(out[-1]["task_id"]) if len(rows) > page_size else None
        return out, next_token

    def set_task_queue_config(
        self,
        queue: str,
        wh_key: str | None,
        config: dict[str, Any],
        max_seconds_since_last_heartbeat: int | None = None,
    ) -> None:
        """Upsert per-(queue, warehouse) config; a NULL heartbeat ceiling
        keeps the existing value (set_task_queue_config COALESCE,
        postgres/tasks.rs:851-857)."""
        self.con.execute(
            "INSERT INTO task_config (queue, wh_key, config,"
            " max_seconds_since_last_heartbeat) VALUES (?,?,?,?)"
            " ON CONFLICT (queue, wh_key) DO UPDATE SET config=excluded.config,"
            " max_seconds_since_last_heartbeat=COALESCE("
            "   excluded.max_seconds_since_last_heartbeat,"
            "   task_config.max_seconds_since_last_heartbeat)",
            (
                queue,
                wh_key or "",
                json.dumps(config),
                max_seconds_since_last_heartbeat,
            ),
        )

    def get_task_queue_config(
        self, queue: str, wh_key: str | None
    ) -> dict[str, Any] | None:
        row = self.one(
            "SELECT config, max_seconds_since_last_heartbeat FROM task_config"
            " WHERE queue=? AND wh_key=?",
            (queue, wh_key or ""),
        )
        if row is None:
            return None
        return {
            "config": json.loads(row["config"]),
            "max_seconds_since_last_heartbeat": row[
                "max_seconds_since_last_heartbeat"
            ],
        }

    # -- idempotency -----------------------------------------------------
    def idempotency_get(self, key: str) -> dict[str, Any] | None:
        row = self.one("SELECT response FROM idempotency WHERE key=?", (key,))
        return json.loads(row["response"]) if row else None

    def idempotency_put(self, key: str, response: dict[str, Any]) -> bool:
        """Record ``key``; False when it was already recorded."""
        return self.con.execute(
            "INSERT INTO idempotency (key, response, created_ms) VALUES (?,?,?)"
            " ON CONFLICT (key) DO NOTHING",
            (key, json.dumps(response), now_ms()),
        ).rowcount == 1
