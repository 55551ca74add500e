"""The Catalog facade: Lakekeeper's REST-operator surface as a library.

Operator parity with SURVEY.md §2.2 (file:line citations are into
/root/reference):

  create/list/get/drop warehouse      api/management/v1/warehouse/mod.rs
  namespace CRUD + pagination         api/iceberg/v1/namespace.rs:183-262
  create_table (+staged), register    server/tables/create_table.rs:255-275
  load_table + ETag 304               server/tables/load_table.rs:96-118
  commit_table / commit_transaction   server/tables.rs:650,948
  drop_table (+purge), undrop         server/tables.rs:710; warehouse/mod.rs:1450
  rename_table                        server/tables.rs:937
  table_exists (HEAD)                 server/tables.rs:901
  views: create/load/replace/...      api/iceberg/v1/views.rs:138-297
  generic tables                      api/data/v1/generic_tables/mod.rs:36-90
  protection flags                    endpoints.rs:238-250
  fuzzy tabular search                migration 20250923164029
  warehouse statistics                warehouse/mod.rs:361-374
  change events                       service/events/types/

Every mutation runs in one BEGIN IMMEDIATE transaction and emits a
CloudEvents-shaped row; commits are optimistic-concurrency checked
(CommitFailedException on conflict), matching commit_tables.rs:119.
"""

from __future__ import annotations

import difflib
import json
from collections.abc import Container
from typing import Any

from . import commit as commit_engine
from . import identifiers as ident
from .commit import CommitConflict, CommitValidationError, new_table_metadata
from .metadoc import pack_metadata, unpack_metadata
from .metastore import Metastore, new_uuid, now_ms


class CatalogError(Exception):
    pass


class NoSuchEntity(CatalogError):
    pass


class AlreadyExists(CatalogError):
    pass


class ProtectedEntity(CatalogError):
    pass


class NotModified(Exception):
    """ETag matched — reference returns HTTP 304 (load_table.rs:268-313)."""


CommitFailedException = CommitConflict

# what table_by_id / table_by_location rows carry: the S3 signer's
# lookups never read the metadata blob
_SIGNER_COLUMNS = "t.id, t.name, t.location, t.deleted_ms, n.ns_stored"

_DEFAULT_WAREHOUSE_PROPS = {
    "format-version-policy": 3,  # max allowed format version
    "delete-profile": "soft",  # 'soft' (expiration queue) or 'hard'
    "expiration-seconds": 7 * 24 * 3600,
    "metadata-previous-versions-max": 100,  # write.metadata.previous-versions-max
    # per-warehouse task-queue config (reference: per-warehouse queue config,
    # api/management/v1/tasks.rs; heartbeat interval
    # service/tasks/tabular_expiration_queue.rs:70-72)
    "task-max-retries": 5,
    "task-backoff-ms": 1000,
    "task-heartbeat-timeout-ms": 120_000,
}


class Catalog:
    def __init__(
        self,
        metastore: Metastore,
        authorizer=None,
        instance_admins: set[str] | None = None,
        trusted_engines=None,
        warehouse_cache=None,
        sts_vendor=None,
        adls_vendor=None,
        gcs_vendor=None,
    ):
        import threading

        from .authz import AllowAllAuthorizer

        self.store = metastore
        self.authz = authorizer or AllowAllAuthorizer()
        # principals with instance-admin capability (the reference's
        # LAKEKEEPER__INSTANCE_ADMINS set, service/authz/instance_admin.rs)
        # — required to set/clear a warehouse managed-by marker and to
        # mutate the spec of an instance-admin-managed warehouse
        self.instance_admins: set[str] = set(instance_admins or ())
        # optional REST hot-path cache for warehouse resolution
        # (catalog/cache.py; reference warehouse_cache.rs). None = off,
        # the default — every lookup hits the metastore as before.
        self.warehouse_cache = warehouse_cache
        # live sts:AssumeRole vending (catalog/sts.py): {"client":
        # StsClient, "role_arn"?, "external_id"?, "tags"?}. None = the
        # deterministic derivation (the sandbox default c14 pins).
        self.sts_vendor = sts_vendor
        # live ADLS user-delegation SAS minting (catalog/adls.py):
        # {"client": AdlsDelegationClient}. None = deterministic SAS.
        self.adls_vendor = adls_vendor
        # live GCS downscoped-token vending (catalog/gcs.py):
        # {"client": GcsTokenExchangeClient}. None = deterministic token.
        self.gcs_vendor = gcs_vendor
        # DEFINER/INVOKER view security (docs/view-security.md): when a
        # TrustedEngines registry is installed, its owner properties are
        # protected on views and loadTable honors referenced-by chains
        self.trusted_engines = trusted_engines
        # thread-local: the REST facade serves concurrent requests from a
        # ThreadingHTTPServer, each scoped to its own request principal
        self._actor_ctx = threading.local()

    @property
    def _actor(self) -> str | None:
        return getattr(self._actor_ctx, "actor", None)

    @_actor.setter
    def _actor(self, value: str | None) -> None:
        self._actor_ctx.actor = value

    def acting_as(self, actor: str | None):
        """Scope the current principal: ``with cat.acting_as("bob"): ...``
        (reference: per-request identity from AuthN, service/authn.rs)."""
        from .authz import acting_as

        return acting_as(self, actor)

    def _authorize(self, action: str, wh_key: str, resource: str) -> None:
        """Gate + audit: denials raise AND land an authorization-failed
        event in the change-event log (reference AuthorizationFailed
        CloudEvent, service/events/types/authorization.rs:115). The
        default AllowAll authorizer never denies, so an unconfigured
        catalog emits zero audit noise and behaves exactly as before."""
        from .authz import AuthorizationError

        if self._is_allowed(action, wh_key, resource):
            return
        self.store.emit_event(
            "authorization-failed",
            wh_key,
            resource,
            {"actor": self._actor, "action": action},
        )
        raise AuthorizationError(
            f"actor {self._actor!r} may not {action} on {resource}"
        )

    def _is_allowed(self, action: str, wh_key: str, resource: str) -> bool:
        """Probe the authorizer without raising. Fine-grained backends
        (catalog/fga.py) key tuples by warehouse-qualified paths —
        same-named namespaces in two warehouses must not share grants —
        so they mark themselves ``qualified`` and get the wh_key prefix.
        Resources are SEP-joined folded segments (ident.res_key), never
        dotted strings — '.' is legal inside identifiers."""
        if wh_key and getattr(self.authz, "qualified", False):
            resource = ident.qualify(wh_key, resource)
        return self.authz.is_allowed(self._actor, action, resource)

    # ================= warehouses =================
    def create_warehouse(
        self,
        name: str,
        location: str,
        properties: dict[str, Any] | None = None,
        project_id: str = "default",
        storage_profile: dict[str, Any] | None = None,
        storage_credential: dict[str, Any] | None = None,
        delete_profile: dict[str, Any] | None = None,
        allowed_format_versions: list[int] | None = None,
        default_format_version: int | None = None,
        managed_by: str = "self-managed",
    ) -> dict[str, Any]:
        """CreateWarehouse (api/management/v1/warehouse/mod.rs:97
        CreateWarehouseRequest): name unique within a project and may not
        contain "/"; typed delete profile; format-version policy
        (non-empty subset of [1,2,3], default member of allowed);
        storage credential held in the secret store; managed-by marker
        settable only with instance-admin privilege."""
        from . import warehouse as wh_ops

        ident.validate_level(name)
        if "/" in name:
            raise CatalogError('warehouse name may not contain "/"')
        # the reference gates warehouse creation on the owning project's
        # CreateWarehouse action BEFORE any row exists
        # (api/management/v1/warehouse/mod.rs:421-440). The default
        # AllowAll authorizer never denies, so library use without an
        # authorizer is unchanged; under FGA/Rbac a principal needs the
        # project `create` tier (project_admin/data_admin imply it).
        self._authorize("create_warehouse", "", f"project/{project_id}")
        props = {**_DEFAULT_WAREHOUSE_PROPS, **(properties or {})}
        if delete_profile is not None:
            props.update(wh_ops.delete_profile_to_props(delete_profile))
        if allowed_format_versions is not None or default_format_version is not None:
            props.update(
                wh_ops.format_policy_to_props(
                    allowed_format_versions, default_format_version
                )
            )
        if managed_by not in ("self-managed", "instance-admin"):
            raise CatalogError(f"invalid managed-by: {managed_by}")
        if managed_by != "self-managed" and not self.is_instance_admin():
            from .authz import AuthorizationError

            raise AuthorizationError(
                "creating a managed warehouse requires instance-admin privilege"
            )
        if storage_profile is not None:
            wh_ops.validate_storage_profile(storage_profile, location)
        secret_id = None
        st = self.store
        st.begin()
        try:
            if storage_credential is not None:
                secret_id = wh_ops.store_secret(st, storage_credential)
            if project_id == "default":
                # lazily materialize the default project (server.rs:268)
                st.execute(
                    "INSERT INTO projects (id, name, created_ms)"
                    " VALUES ('default', 'Default Project', ?)"
                    " ON CONFLICT (id) DO NOTHING",
                    (now_ms(),),
                )
            elif not st.one(
                "SELECT 1 FROM projects WHERE id=?", (project_id,)
            ):
                raise NoSuchEntity(
                    f"Project with id {project_id} not found."
                    " (ProjectNotFound)"
                )
            if st.one("SELECT 1 FROM warehouses WHERE wh_key=?", (ident.fold(name),)):
                raise AlreadyExists(f"warehouse {name} exists")
            wh_id = new_uuid()
            st.execute(
                "INSERT INTO warehouses (wh_key, name, location, properties,"
                " created_ms, project_id, wh_id, status, managed_by,"
                " storage_profile, storage_secret_id, updated_ms)"
                " VALUES (?,?,?,?,?,?,?,?,?,?,?,?)",
                (
                    ident.fold(name),
                    name,
                    location.rstrip("/"),
                    json.dumps(props),
                    now_ms(),
                    project_id,
                    wh_id,
                    "active",
                    managed_by,
                    json.dumps(storage_profile) if storage_profile else None,
                    secret_id,
                    now_ms(),
                ),
            )
            st.emit_event("create-warehouse", ident.fold(name), name, {"location": location})
            st.commit()
            self._invalidate_warehouse(ident.fold(name))
        except BaseException:
            st.rollback()
            raise
        return {
            "name": name,
            "location": location,
            "properties": props,
            "warehouse-id": wh_id,
            "project-id": project_id,
            "status": "active",
            "managed-by": managed_by,
        }

    def is_instance_admin(self) -> bool:
        """Whether the current request may bypass control-plane spec locks
        (bypasses_control_plane_authz, request_metadata.rs:334): an
        in-process caller (no request actor — is_lakekeeper_internal) or
        a principal in the configured instance-admins set."""
        return self._actor is None or self._actor in self.instance_admins

    def task_config(self, warehouse: str, queue: str | None = None) -> dict[str, int]:
        """Per-warehouse task-queue tuning for lifecycle workers
        (reference per-warehouse queue config, api/management/v1/tasks.rs).
        Warehouse properties give the defaults; a per-queue config set via
        SetTaskQueueConfig (catalog/tasks.py) overrides them."""
        wh = self._warehouse(warehouse, any_status=True)
        props = wh["properties"]
        out = {
            "max_attempts": int(props.get("task-max-retries", 5)),
            "backoff_ms": int(props.get("task-backoff-ms", 1000)),
            "heartbeat_timeout_ms": int(props.get("task-heartbeat-timeout-ms", 120_000)),
        }
        if queue is not None:
            stored = self.store.get_task_queue_config(queue, wh["wh_key"])
            if stored is None:
                # project-level config is the fallback a warehouse-specific
                # row shadows (the reference's warehouse_id-NULL task_config
                # rows, postgres tasks.rs:799)
                from .tasks import _project_config_key

                stored = self.store.get_task_queue_config(
                    queue, _project_config_key(wh["project_id"])
                )
            if stored is not None:
                cfg = stored["config"]
                for key in ("max_attempts", "backoff_ms"):
                    if cfg.get(key.replace("_", "-")) is not None:
                        out[key] = int(cfg[key.replace("_", "-")])
                if stored["max_seconds_since_last_heartbeat"] is not None:
                    out["heartbeat_timeout_ms"] = (
                        int(stored["max_seconds_since_last_heartbeat"]) * 1000
                    )
        return out

    def _warehouse(self, warehouse: str, any_status: bool = False) -> dict[str, Any]:
        """Resolve a warehouse by name, or by the ``project/name`` form
        engines pass to GET /config (the reference resolves
        ``<project>/<warehouse>`` warehouse identifiers,
        server/config.rs) — the project part must match the warehouse's
        project_id.

        Catalog data-plane operations require an ACTIVE warehouse
        (require_active_warehouse, server/tables.rs:2054 — 404
        WarehouseNotActive); management operations pass
        ``any_status=True`` (the reference's
        WarehouseStatus::active_and_inactive() fetches)."""
        project_scope, warehouse = _warehouse_ident(warehouse)
        wh_key = ident.fold(warehouse)
        if self.warehouse_cache is not None:
            import copy

            wh = self.warehouse_cache.get_or_load(
                wh_key, lambda: self._load_warehouse(wh_key)
            )
            # callers mutate the resolved dict (properties updates,
            # wh_id backfill) — never hand out the cached object itself
            wh = copy.deepcopy(wh) if wh is not None else None
        else:
            wh = self._load_warehouse(wh_key)
        if wh is None:
            raise NoSuchEntity(f"warehouse {warehouse} not found")
        if project_scope is not None and wh["project_id"] != project_scope:
            raise NoSuchEntity(
                f"warehouse {warehouse} not found in project {project_scope}"
            )
        # status/scope gates run per-request on the (possibly cached)
        # row — the cache stores resolution, not authorization outcomes
        if not any_status and wh["status"] != "active":
            raise NoSuchEntity("Warehouse is not active (WarehouseNotActive)")
        return wh

    def _load_warehouse(self, wh_key: str) -> dict[str, Any] | None:
        """One metastore read -> resolved warehouse dict (the cache
        loader; None = not found, never negative-cached)."""
        row = self.store.one(
            "SELECT * FROM warehouses WHERE wh_key=?", (wh_key,)
        )
        if not row:
            return None
        return {
            "wh_key": row["wh_key"],
            "name": row["name"],
            "location": row["location"],
            "properties": json.loads(row["properties"]),
            "protected": bool(row["protected"]),
            "project_id": row["project_id"],
            "wh_id": row["wh_id"] if "wh_id" in row.keys() else None,
            "status": row["status"] if "status" in row.keys() else "active",
            "managed_by": (
                row["managed_by"] if "managed_by" in row.keys() else "self-managed"
            ),
            "storage_profile": (
                json.loads(row["storage_profile"])
                if "storage_profile" in row.keys() and row["storage_profile"]
                else None
            ),
            "storage_secret_id": (
                row["storage_secret_id"] if "storage_secret_id" in row.keys() else None
            ),
            "created_ms": row["created_ms"],
            "updated_ms": row["updated_ms"] if "updated_ms" in row.keys() else None,
        }

    def _invalidate_warehouse(self, *wh_keys: str) -> None:
        """Drop cached resolutions after a warehouses-table write (the
        reference invalidates through the loader's per-key compute lock,
        warehouse_cache.rs warehouse_cache_invalidate)."""
        if self.warehouse_cache is not None:
            for k in wh_keys:
                self.warehouse_cache.invalidate(k)

    def describe_warehouse(self, warehouse: str) -> dict[str, Any]:
        """Public warehouse lookup (name/location/properties/protected) —
        the accessor service layers (REST signer, vector datasets) use
        instead of reaching into _warehouse."""
        wh = self._warehouse(warehouse, any_status=True)
        return {k: wh[k] for k in ("name", "location", "properties", "protected")}

    def list_warehouses(self, project_id: str | None = None) -> list[str]:
        """Warehouse names, optionally scoped to one project (the
        reference lists warehouses per project, warehouse/mod.rs)."""
        if project_id is None:
            return [
                r["name"]
                for r in self.store.query(
                    "SELECT name FROM warehouses ORDER BY wh_key"
                )
            ]
        return [
            r["name"]
            for r in self.store.query(
                "SELECT name FROM warehouses WHERE project_id=?"
                " ORDER BY wh_key",
                (project_id,),
            )
        ]

    def update_warehouse_properties(
        self,
        warehouse: str,
        updates: dict[str, Any] | None = None,
        removals: list[str] | None = None,
    ) -> dict[str, Any]:
        """Mutate warehouse configuration post-create — the reference's
        UpdateWarehouseFormatVersionPolicy / delete-profile / rename
        family (api/endpoints.rs:228; warehouse/mod.rs). The
        format-version policy is validated here so an invalid value can
        never gate future commits."""
        wh = self._warehouse(warehouse)
        props = dict(wh["properties"])
        for k in removals or []:
            props.pop(k, None)
        props.update(updates or {})
        if "format-version-policy" in props:
            policy = int(props["format-version-policy"])
            if policy not in (1, 2, 3):
                raise CatalogError(f"invalid format-version-policy: {policy}")
        st = self.store
        st.begin()
        try:
            st.execute(
                "UPDATE warehouses SET properties=? WHERE wh_key=?",
                (json.dumps(props), wh["wh_key"]),
            )
            st.emit_event(
                "update-warehouse", wh["wh_key"], wh["name"], {"updated": sorted(props)}
            )
            st.commit()
            self._invalidate_warehouse(wh["wh_key"])
        except BaseException:
            st.rollback()
            raise
        return props

    def warehouse_statistics(self, warehouse: str) -> dict[str, Any]:
        """Current table/view counts; also lazily rolls the HOURLY stats
        row for this hour (reference: hourly lazily-rolled statistics,
        api/management/v1/warehouse/mod.rs:361-374 — a row per hour is
        created/updated when statistics are requested, not by a cron)."""
        wh = self._warehouse(warehouse, any_status=True)
        row = self.store.one(
            "SELECT SUM(CASE WHEN kind='table' THEN 1 ELSE 0 END) AS n_tables,"
            "       SUM(CASE WHEN kind='view' THEN 1 ELSE 0 END) AS n_views"
            " FROM tabulars WHERE wh_key=? AND deleted_ms IS NULL",
            (wh["wh_key"],),
        )
        n_tables, n_views = row["n_tables"] or 0, row["n_views"] or 0
        hour = now_ms() // 3_600_000
        self.store.execute(
            "INSERT INTO warehouse_stats_history (wh_key, hour, n_tables, n_views,"
            " updated_ms) VALUES (?,?,?,?,?)"
            " ON CONFLICT(wh_key, hour) DO UPDATE SET"
            " n_tables=excluded.n_tables, n_views=excluded.n_views,"
            " updated_ms=excluded.updated_ms",
            (wh["wh_key"], hour, n_tables, n_views, now_ms()),
        )
        return {
            "number-of-tables": n_tables,
            "number-of-views": n_views,
            "timestamp-ms": now_ms(),
        }

    def warehouse_statistics_history(self, warehouse: str) -> list[dict[str, Any]]:
        """The rolled hourly series (GetWarehouseStatistics list form)."""
        wh = self._warehouse(warehouse, any_status=True)
        return [
            {
                "hour": r["hour"],
                "number-of-tables": r["n_tables"],
                "number-of-views": r["n_views"],
                "updated-ms": r["updated_ms"],
            }
            for r in self.store.query(
                "SELECT hour, n_tables, n_views, updated_ms FROM"
                " warehouse_stats_history WHERE wh_key=? ORDER BY hour",
                (wh["wh_key"],),
            )
        ]

    def load_endpoint_statistics(
        self, request: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        """LoadEndpointStatistics (api/endpoints.rs:234; list semantics
        from lakekeeper-storage-postgres/src/endpoint_statistics/list.rs):
        the hourly endpoint counters grouped per time-slice, newest first,
        paginated by STEPPING THROUGH TIME — the previous/next tokens move
        the (end, interval) window one interval back/forward. Default
        window: the last day ending now. Filters: warehouse ({type:
        warehouse-id|unmapped|all}) and status-codes."""
        import base64

        request = request or {}
        spec = request.get("range-specifier") or {}
        if spec.get("type") == "page-token":
            try:
                end_ms, interval_ms = json.loads(
                    base64.urlsafe_b64decode(spec["token"]).decode()
                )
            except Exception as e:  # noqa: BLE001
                raise CatalogError(f"invalid page token: {e!r}") from e
        else:
            end_ms = (
                _parse_rfc3339_ms(spec["end"]) if spec.get("end") else now_ms()
            )
            interval_ms = (
                _parse_iso8601_duration_ms(spec["interval"])
                if spec.get("interval")
                else 86_400_000
            )
        if interval_ms <= 0:
            raise CatalogError("interval must be positive")
        from_ms = end_ms - interval_ms

        wh_filter = request.get("warehouse") or {"type": "all"}
        where = ["hour * 3600000 > ?", "hour * 3600000 <= ?"]
        params: list[Any] = [from_ms, end_ms]
        if wh_filter.get("type") == "warehouse-id":
            where.append("wh_key = ?")
            params.append(ident.fold(str(wh_filter.get("id", ""))))
        elif wh_filter.get("type") == "unmapped":
            where.append("wh_key = ''")
        elif wh_filter.get("type") != "all":
            raise CatalogError(
                f"unknown warehouse filter type {wh_filter.get('type')!r}"
            )
        status_codes = request.get("status-codes")
        if status_codes:
            where.append(f"status IN ({','.join('?' * len(status_codes))})")
            params.extend(int(s) for s in status_codes)
        rows = self.store.query(
            "SELECT hour, endpoint, status, wh_key, count FROM endpoint_stats"
            f" WHERE {' AND '.join(where)}"
            " ORDER BY hour DESC, endpoint, status, wh_key",
            tuple(params),
        )
        timestamps: list[str] = []
        called: list[list[dict[str, Any]]] = []
        for r in rows:
            ts = _ms_to_rfc3339(r["hour"] * 3_600_000)
            if not timestamps or timestamps[-1] != ts:
                timestamps.append(ts)
                called.append([])
            called[-1].append(
                {
                    "count": r["count"],
                    "http-route": r["endpoint"],
                    "status-code": r["status"],
                    "warehouse-id": r["wh_key"] or None,
                    "warehouse-name": r["wh_key"] or None,
                }
            )

        def token(end: int) -> str:
            return base64.urlsafe_b64encode(
                json.dumps([end, interval_ms]).encode()
            ).decode()

        return {
            "timestamps": timestamps,
            "called-endpoints": called,
            "previous-page-token": token(from_ms),
            "next-page-token": token(end_ms + interval_ms),
        }

    # ================= namespaces =================
    def create_namespace(
        self,
        warehouse: str,
        levels: tuple[str, ...] | list[str],
        properties: dict[str, Any] | None = None,
        exists_ok: bool = False,
    ) -> tuple[str, ...]:
        for level in levels:
            ident.validate_level(level)
        wh = self._warehouse(warehouse)
        self._authorize("create", wh["wh_key"], ident.res_key(levels))
        key = ident.ns_key(levels)
        parent = tuple(levels[:-1])
        st = self.store
        st.begin()
        try:
            if parent and not st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(parent)),
            ):
                raise NoSuchEntity(f"parent namespace {'.'.join(parent)} not found")
            if st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?", (wh["wh_key"], key)
            ):
                if exists_ok:
                    st.rollback()
                    return tuple(levels)
                raise AlreadyExists(f"namespace {'.'.join(levels)} exists")
            st.execute(
                "INSERT INTO namespaces (wh_key, ns_key, ns_stored, properties, created_ms)"
                " VALUES (?,?,?,?,?)",
                (wh["wh_key"], key, ident.ns_store(levels), json.dumps(properties or {}), now_ms()),
            )
            st.emit_event("create-namespace", wh["wh_key"], ".".join(levels), {})
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return tuple(levels)

    def namespace_exists(self, warehouse: str, levels: tuple[str, ...] | list[str]) -> bool:
        wh = self._warehouse(warehouse)
        return bool(
            self.store.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(levels)),
            )
        )

    def list_namespaces(
        self,
        warehouse: str,
        parent: tuple[str, ...] | None = None,
        page_token: str | None = None,
        page_size: int | None = None,
    ) -> tuple[list[tuple[str, ...]], str | None]:
        """Direct children of `parent` (reference `parent` filter +
        PageToken pagination, api/iceberg/types.rs:220-257)."""
        wh = self._warehouse(warehouse)
        rows = self.store.query(
            "SELECT ns_key, ns_stored FROM namespaces WHERE wh_key=? AND ns_key > ?"
            " ORDER BY ns_key",
            (wh["wh_key"], page_token or ""),
        )
        depth = len(parent) + 1 if parent else 1
        out, next_token, last_key = [], None, None
        pkey = ident.ns_key(parent) + ident.SEP if parent else ""
        for r in rows:
            levels = ident.ns_load(r["ns_stored"])
            if len(levels) != depth or not r["ns_key"].startswith(pkey):
                continue
            # include_in_list filtering happens BEFORE pagination, so a
            # page is full-sized whenever enough authorized rows exist
            # and a restricted caller cannot infer hidden entries from
            # page gaps (reference list-filtering semantics)
            if not self._is_allowed(
                "include_in_list", wh["wh_key"], ident.res_key(levels)
            ):
                continue
            if page_size is not None and len(out) >= page_size:
                # page_size=0 truncates before any append: last_key stays
                # None (caller restarts from the top) instead of indexing
                # an empty page — same discipline as list_tabulars
                next_token = last_key
                break
            out.append((levels, r["ns_key"]))
            last_key = r["ns_key"]
        return [levels for levels, _ in out], next_token

    def namespace_properties(self, warehouse: str, levels) -> dict[str, Any]:
        wh = self._warehouse(warehouse)
        self._authorize("get_metadata", wh["wh_key"], ident.res_key(levels))
        row = self.store.one(
            "SELECT properties FROM namespaces WHERE wh_key=? AND ns_key=?",
            (wh["wh_key"], ident.ns_key(levels)),
        )
        if not row:
            raise NoSuchEntity(f"namespace {'.'.join(levels)} not found")
        return json.loads(row["properties"])

    def update_namespace_properties(
        self, warehouse: str, levels, updates: dict[str, Any], removals: list[str] = ()
    ) -> dict[str, Any]:
        wh = self._warehouse(warehouse)
        self._authorize("update_properties", wh["wh_key"], ident.res_key(levels))
        st = self.store
        st.begin()
        try:
            row = st.one(
                "SELECT properties FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(levels)),
            )
            if not row:
                raise NoSuchEntity(f"namespace {'.'.join(levels)} not found")
            props = json.loads(row["properties"])
            for k in removals:
                props.pop(k, None)
            props.update(updates)
            st.execute(
                "UPDATE namespaces SET properties=? WHERE wh_key=? AND ns_key=?",
                (json.dumps(props), wh["wh_key"], ident.ns_key(levels)),
            )
            st.emit_event("update-namespace", wh["wh_key"], ".".join(levels), {"updates": updates})
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return props

    def drop_namespace(self, warehouse: str, levels) -> None:
        wh = self._warehouse(warehouse)
        self._authorize("drop", wh["wh_key"], ident.res_key(levels))
        key = ident.ns_key(levels)
        st = self.store
        st.begin()
        try:
            row = st.one(
                "SELECT protected FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], key),
            )
            if not row:
                raise NoSuchEntity(f"namespace {'.'.join(levels)} not found")
            if row["protected"]:
                raise ProtectedEntity(f"namespace {'.'.join(levels)} is protected")
            child = st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key LIKE ? LIMIT 1",
                (wh["wh_key"], key + ident.SEP + "%"),
            )
            tab = st.one(
                "SELECT 1 FROM tabulars WHERE wh_key=? AND ns_key=? AND deleted_ms IS NULL"
                " LIMIT 1",
                (wh["wh_key"], key),
            )
            if child or tab:
                raise CatalogError(f"namespace {'.'.join(levels)} is not empty")
            st.execute(
                "DELETE FROM namespaces WHERE wh_key=? AND ns_key=?", (wh["wh_key"], key)
            )
            # grants die with the entity (the reference deletes authorizer
            # tuples on entity deletion, e.g. warehouse/mod.rs:722)
            st.purge_authz_entity(
                ident.qualify(wh["wh_key"], ident.res_key(levels)),
                child_sep=(ident.SEP, ident.TSEP),
            )
            st.emit_event("drop-namespace", wh["wh_key"], ".".join(levels), {})
            st.commit()
        except BaseException:
            st.rollback()
            raise

    # ================= tabular internals =================
    def _tabular_row(self, wh_key: str, levels, name: str, kind: str, deleted: bool = False):
        cond = "deleted_ms IS NOT NULL" if deleted else "deleted_ms IS NULL"
        return self.store.one(
            f"SELECT * FROM tabulars WHERE wh_key=? AND ns_key=? AND name_key=? AND kind=?"
            f" AND {cond}",
            (wh_key, ident.ns_key(levels), ident.fold(name), kind),
        )

    def _table_location(
        self, wh: dict[str, Any], levels, table_uuid: str, name: str = ""
    ) -> str:
        """Storage-layout templates (reference storage_layout.rs:60-246).

        Warehouse property ``storage-layout`` selects the variant:
          default                        <base>/<uuid>
          tabular-only                   <base>/<tabular-tmpl>  ({uuid} required)
          parent-namespace-and-tabular   <base>/<ns-tmpl(direct parent)>/<tabular-tmpl>
          full-hierarchy                 <base>/<ns-tmpl per level>/<tabular-tmpl>
        Templates take {uuid} and {name}; name segments are URL-encoded
        (reference encode_path_segment, storage_layout.rs:20-22). Namespace
        {uuid} renders the casefolded level key (our namespaces are keyed,
        not uuid'd — documented deviation)."""
        from urllib.parse import quote

        layout = wh["properties"].get("storage-layout") or {"type": "default"}
        if isinstance(layout, str):
            layout = json.loads(layout)
        ltype = layout.get("type", "default")
        base = wh["location"]
        if ltype == "default":
            return f"{base}/{table_uuid}"

        def render(template: str, seg_name: str, seg_uuid: str) -> str:
            return template.replace("{uuid}", seg_uuid).replace(
                "{name}", quote(seg_name, safe="")
            )

        def has_placeholder(t: str) -> bool:
            return "{uuid}" in t or "{name}" in t

        tab_tmpl = layout.get("tabular", "{uuid}")
        if ltype == "tabular-only":
            # {uuid} mandatory to prevent same-name collisions (rs:170-173)
            if "{uuid}" not in tab_tmpl:
                raise CatalogError(
                    "tabular-only layout requires {uuid} in the tabular template"
                )
            return f"{base}/{render(tab_tmpl, name, table_uuid)}"
        ns_tmpl = layout.get("namespace", "{name}")
        if not has_placeholder(tab_tmpl) or not has_placeholder(ns_tmpl):
            raise CatalogError("layout templates must contain a placeholder")
        if ltype == "parent-namespace-and-tabular":
            ns_levels = [levels[-1]] if levels else []
        elif ltype == "full-hierarchy":
            ns_levels = list(levels)
        else:
            raise CatalogError(f"unknown storage layout: {ltype}")
        segs = [render(ns_tmpl, lvl, ident.fold(lvl)) for lvl in ns_levels]
        segs.append(render(tab_tmpl, name, table_uuid))
        return base + "/" + "/".join(segs)

    # ================= tables =================
    def create_table(
        self,
        warehouse: str,
        levels,
        name: str,
        schema: dict[str, Any],
        partition_spec: dict[str, Any] | None = None,
        sort_order: dict[str, Any] | None = None,
        properties: dict[str, str] | None = None,
        stage_create: bool = False,
        format_version: int | None = None,
        location: str | None = None,
    ) -> dict[str, Any]:
        """``location`` overrides the storage-layout template (reference
        CREATE TABLE ... LOCATION, test_spark.py:793 test_custom_location);
        the same-location / sub-location overlap check still applies, and
        string-prefix SIBLINGS ('X' vs 'Xa') are legal and purge-safe
        (test_spark.py:740 test_drop_with_shared_prefix)."""
        ident.validate_level(name)
        wh = self._warehouse(warehouse)
        self._authorize("create", wh["wh_key"], ident.res_key(levels, name))
        from . import warehouse as wh_ops

        if format_version is None:
            # CreateWarehouseRequest.default_format_version resolution:
            # v2 if allowed, else the highest allowed version
            format_version = wh_ops.resolve_default_format_version(wh["properties"])
        allowed = wh_ops.allowed_format_version_set(wh["properties"])
        if format_version not in allowed:
            raise CommitValidationError(
                f"format-version {format_version} not in warehouse policy"
                f" (allowed: {sorted(allowed)})"
            )
        table_uuid = new_uuid()
        if location is not None:
            if not location.strip("/"):
                raise CatalogError("custom location must be a non-empty path")
            location = location.rstrip("/")
        else:
            location = self._table_location(wh, levels, table_uuid, name)
        meta = new_table_metadata(
            table_uuid, location, schema, partition_spec, sort_order, properties, format_version
        )
        st = self.store
        st.begin()
        try:
            if not st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(levels)),
            ):
                raise NoSuchEntity(f"namespace {'.'.join(levels)} not found")
            existing = st.one(
                "SELECT 1 FROM tabulars WHERE wh_key=? AND ns_key=? AND name_key=?"
                " AND deleted_ms IS NULL",
                (wh["wh_key"], ident.ns_key(levels), ident.fold(name)),
            )
            if existing:
                raise AlreadyExists(f"tabular {name} exists")
            # location uniqueness (reference migration 20240911094637:
            # cannot create a table at the same or a sub-location)
            clash = st.one(
                "SELECT 1 FROM tabulars WHERE deleted_ms IS NULL AND"
                " (location = ? OR location LIKE ? OR ? LIKE location || '/%')",
                (location, location + "/%", location),
            )
            if clash:
                raise AlreadyExists(f"location {location} overlaps an existing tabular")
            kind = "table"
            meta["staged"] = bool(stage_create)
            st.execute(
                "INSERT INTO tabulars (id, wh_key, ns_key, name_key, name, kind, metadata,"
                " location, created_ms, updated_ms) VALUES (?,?,?,?,?,?,?,?,?,?)",
                (
                    table_uuid,
                    wh["wh_key"],
                    ident.ns_key(levels),
                    ident.fold(name),
                    name,
                    kind,
                    pack_metadata(meta),
                    location,
                    now_ms(),
                    now_ms(),
                ),
            )
            st.emit_event(
                "create-table", wh["wh_key"], f"{'.'.join(levels)}.{name}", {"uuid": table_uuid}
            )
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return meta

    def register_table(
        self, warehouse: str, levels, name: str, metadata: dict[str, Any]
    ) -> dict[str, Any]:
        """Adopt existing table metadata (reference RegisterTable,
        api/iceberg/v1/tables.rs:266; test_spark.py:1157-1205)."""
        wh = self._warehouse(warehouse)
        st = self.store
        st.begin()
        try:
            if self._tabular_row(wh["wh_key"], levels, name, "table"):
                raise AlreadyExists(f"table {name} exists")
            st.execute(
                "INSERT INTO tabulars (id, wh_key, ns_key, name_key, name, kind, metadata,"
                " location, created_ms, updated_ms) VALUES (?,?,?,?,?,?,?,?,?,?)",
                (
                    metadata["table-uuid"],
                    wh["wh_key"],
                    ident.ns_key(levels),
                    ident.fold(name),
                    name,
                    "table",
                    pack_metadata(metadata),
                    metadata.get("location"),
                    now_ms(),
                    now_ms(),
                ),
            )
            st.emit_event(
                "register-table",
                wh["wh_key"],
                f"{'.'.join(levels)}.{name}",
                {"uuid": metadata["table-uuid"]},
            )
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return metadata

    def register_table_from_file(
        self, warehouse: str, levels, name: str, metadata_location: str
    ) -> dict[str, Any]:
        """RegisterTable by metadata-location: read the TableMetadata JSON
        from storage and adopt it — the reference's actual request shape
        (api/iceberg/v1/tables.rs:266 takes `metadata-location`; the
        server reads the file, test_spark.py:1157-1205 registers a
        dropped table's last metadata file)."""
        from pathlib import Path

        p = Path(metadata_location)
        if not p.is_file():
            raise NoSuchEntity(f"metadata file not found: {metadata_location}")
        try:
            metadata = unpack_metadata(p.read_text())
        except ValueError as e:
            raise CatalogError(f"invalid metadata JSON: {e}") from e
        if "table-uuid" not in metadata or "schemas" not in metadata:
            raise CatalogError("not a table metadata document")
        return self.register_table(warehouse, levels, name, metadata)

    def load_table(
        self, warehouse: str, levels, name: str, etag: int | Container[int] | None = None
    ) -> tuple[dict[str, Any], int]:
        """Returns (metadata, etag). Raises NotModified when the caller's
        etag still matches (reference If-None-Match -> 304)."""
        text, seq, _ = self.load_table_text(warehouse, levels, name, etag)
        return unpack_metadata(text), seq

    def load_table_text(
        self, warehouse: str, levels, name: str, etag: int | Container[int] | None = None
    ) -> tuple[str, int, str | None]:
        """Returns (stored metadata text, etag, location column).

        The text is the pooled document ``pack_metadata`` wrote (see
        catalog/metadoc.py); callers that can take the pooled form use it
        verbatim. ``etag`` is the caller's version, or a container of
        versions (an If-None-Match list); NotModified is raised when the
        stored version is in it. With an etag, the version is checked by
        a narrow read and the blob is read only when it differs."""
        wh = self._warehouse(warehouse)
        self._authorize("get_metadata", wh["wh_key"], ident.res_key(levels, name))
        key = (wh["wh_key"], ident.ns_key(levels), ident.fold(name))
        cond = "wh_key=? AND ns_key=? AND name_key=? AND kind='table' AND deleted_ms IS NULL"
        if etag is not None:
            tags = (etag,) if isinstance(etag, int) else etag
            head = self.store.one(f"SELECT metadata_seq FROM tabulars WHERE {cond}", key)
            if head is not None and head["metadata_seq"] in tags:
                raise NotModified()
        # the version returned is the one read with the blob, even if a
        # commit landed after the check above
        row = self.store.one(
            f"SELECT metadata, metadata_seq, location FROM tabulars WHERE {cond}", key
        )
        if row is None:
            raise NoSuchEntity(f"table {'.'.join(levels)}.{name} not found")
        return row["metadata"], row["metadata_seq"], row["location"]

    def record_request(self, endpoint: str, warehouse: str) -> None:
        """Count one served REST request in the endpoint statistics. Only
        the REST handlers call this: library loads, scan planning and
        in-process scan reports are not endpoint calls. ``warehouse`` was
        resolved by the request."""
        self.store.record_endpoint(endpoint, ident.fold(_warehouse_ident(warehouse)[1]))

    def report_metrics(
        self, warehouse: str, levels, name: str, report: dict[str, Any]
    ) -> None:
        """Sink for engine scan/commit reports (reference ReportMetrics,
        api/iceberg/v1/metrics.rs:40-66: accepts arbitrary JSON, 204).
        icelite's scan() files one per table scan."""
        wh = self._warehouse(warehouse)
        self.store.record_metrics_report(
            wh["wh_key"],
            f"{'.'.join(levels)}.{name}",
            str(report.get("report-type", "scan-report")),
            report,
        )

    def list_metrics_reports(
        self, warehouse: str, levels=None, name: str | None = None
    ) -> list[dict[str, Any]]:
        wh = self._warehouse(warehouse)
        sql = "SELECT ts_ms, entity, report_type, report FROM metrics_reports WHERE wh_key=?"
        params: list[Any] = [wh["wh_key"]]
        if levels is not None and name is not None:
            sql += " AND entity=?"
            params.append(f"{'.'.join(levels)}.{name}")
        return [
            {
                "ts-ms": r["ts_ms"],
                "entity": r["entity"],
                "report-type": r["report_type"],
                "report": json.loads(r["report"]),
            }
            for r in self.store.query(sql + " ORDER BY seq", tuple(params))
        ]

    def table_exists(self, warehouse: str, levels, name: str) -> bool:
        wh = self._warehouse(warehouse)
        return self._tabular_row(wh["wh_key"], levels, name, "table") is not None

    def authorize_table_action(
        self, warehouse: str, levels, name: str, action: str
    ) -> None:
        """Public authz gate for service layers that resolve a table
        themselves (the S3 signer authorizes read_data/write_data on the
        table it found by id/location, reference
        s3_signer/sign.rs:185-188,447-489)."""
        wh = self._warehouse(warehouse)
        self._authorize(action, wh["wh_key"], ident.res_key(levels, name))

    def table_by_id(
        self, warehouse: str, table_id: str
    ) -> tuple[tuple[str, ...], str, dict[str, Any]] | None:
        """Resolve a table by uuid -> (levels, name, row) incl. soft-deleted
        (reference get_table_info with TabularListFlags, sign.rs:131-140)."""
        wh = self._warehouse(warehouse)
        r = self.store.one(
            f"SELECT {_SIGNER_COLUMNS} FROM tabulars t"
            " JOIN namespaces n ON n.wh_key = t.wh_key AND n.ns_key = t.ns_key"
            " WHERE t.wh_key=? AND t.id=? AND t.kind='table'",
            (wh["wh_key"], table_id),
        )
        if not r:
            return None
        return ident.ns_load(r["ns_stored"]), r["name"], dict(r)

    def table_by_location(
        self, warehouse: str, location: str
    ) -> tuple[tuple[str, ...], str, dict[str, Any]] | None:
        """Resolve the table whose location contains ``location`` (itself
        or a sublocation) -> (namespace levels, name, row), the row holding
        the ``_SIGNER_COLUMNS``.

        Backs the S3 remote-signing endpoint (reference
        get_tabular_infos_by_s3_location, service/catalog_store/
        tabular.rs:1675, called from s3_signer/sign.rs:421). Soft-DELETED
        tables are included on purpose: engines HEAD metadata files of
        just-dropped tables and those requests must still sign
        (sign.rs:429-432, TabularListFlags::all). s3a://'s3n:// normalize
        to s3:// on both sides. Uses the tabular_location index via a
        prefix LIKE; the reference does the indexed lookup in Postgres."""
        wh = self._warehouse(warehouse)
        want = location.rstrip("/")
        for prefix in ("s3a://", "s3n://"):
            if want.startswith(prefix):
                want = "s3://" + want[len(prefix):]
        rows = self.store.query(
            f"SELECT {_SIGNER_COLUMNS} FROM tabulars t"
            " JOIN namespaces n ON n.wh_key = t.wh_key AND n.ns_key = t.ns_key"
            " WHERE t.wh_key=? AND t.kind='table' AND t.location IS NOT NULL",
            (wh["wh_key"],),
        )
        best: tuple[tuple[int, bool], Any] | None = None
        for r in rows:
            loc = (r["location"] or "").rstrip("/")
            for prefix in ("s3a://", "s3n://"):
                if loc.startswith(prefix):
                    loc = "s3://" + loc[len(prefix):]
            if loc and (want == loc or want.startswith(loc + "/")):
                # deepest (longest) match wins; active beats soft-deleted
                score = (len(loc), r["deleted_ms"] is None)
                if best is None or score > best[0]:
                    best = (score, r)
        if best is None:
            return None
        r = best[1]
        return ident.ns_load(r["ns_stored"]), r["name"], dict(r)

    def list_tables(
        self,
        warehouse: str,
        levels,
        kind: str = "table",
        page_token: str | None = None,
        page_size: int | None = None,
    ) -> tuple[list[str], str | None]:
        wh = self._warehouse(warehouse)
        rows = self.store.query(
            "SELECT name, name_key FROM tabulars WHERE wh_key=? AND ns_key=? AND kind=?"
            " AND deleted_ms IS NULL AND name_key > ? ORDER BY name_key",
            (wh["wh_key"], ident.ns_key(levels), kind, page_token or ""),
        )
        # reference CatalogTableAction::IncludeInList - unauthorized
        # entries are silently filtered, never an error. Filtering runs
        # BEFORE page_size truncation: a page is full-sized whenever
        # enough authorized rows remain, next_token points at the last
        # AUTHORIZED row, and page gaps never reveal hidden entries.
        names: list[str] = []
        next_token = None
        last_key = None
        for r in rows:
            if not self._is_allowed(
                "include_in_list", wh["wh_key"], ident.res_key(levels, r["name"])
            ):
                continue
            if page_size is not None and len(names) >= page_size:
                next_token = last_key
                break
            names.append(r["name"])
            last_key = r["name_key"]
        return names, next_token

    def commit_table(
        self,
        warehouse: str,
        levels,
        name: str,
        requirements: list[dict[str, Any]],
        updates: list[dict[str, Any]],
        idempotency_key: str | None = None,
        packed: list[str] | None = None,
    ) -> dict[str, Any]:
        return self.commit_transaction(
            warehouse,
            [
                {
                    "levels": levels,
                    "name": name,
                    "requirements": requirements,
                    "updates": updates,
                }
            ],
            idempotency_key=idempotency_key,
            packed=packed,
        )[0]

    def commit_transaction(
        self,
        warehouse: str,
        table_changes: list[dict[str, Any]],
        idempotency_key: str | None = None,
        packed: list[str] | None = None,
    ) -> list[dict[str, Any]]:
        """Multi-table atomic commit (reference CommitTransaction,
        server/tables.rs:948 -> try_commit_tables:1523): all tables
        validated + CAS-updated inside ONE metastore transaction.

        ``packed``, when given, receives the stored text of each new
        version in ``table_changes`` order — the one encode a commit
        makes (catalog/metadoc.py). An idempotent replay leaves it
        empty and returns the recorded results.

        The Idempotency-Key is re-checked after BEGIN and recorded inside
        the transaction, so a key applies at most once: a commit whose
        record insert finds the key already taken (a concurrent request
        on PostgreSQL, where BEGIN takes no write lock) rolls back and
        replays the recorded results. A rolled-back attempt also removes
        the archive files it wrote."""
        wh = self._warehouse(warehouse)
        if idempotency_key:
            prior = self.store.idempotency_get(idempotency_key)
            if prior is not None:
                return prior["results"]
        # validation: dedup idents (commit_tables_validate, tables.rs:1179)
        seen = set()
        for ch in table_changes:
            key = (ident.ns_key(ch["levels"]), ident.fold(ch["name"]))
            if key in seen:
                raise CommitValidationError("duplicate table in transaction")
            seen.add(key)
        for ch in table_changes:
            self._authorize(
                "commit", wh["wh_key"], ident.res_key(ch["levels"], ch["name"])
            )
        from pathlib import Path

        from . import warehouse as wh_ops

        allowed_versions = wh_ops.allowed_format_version_set(wh["properties"])
        st = self.store
        archived: list[str] = []
        expired_files: list[str] = []
        st.begin()
        try:
            prior = st.idempotency_get(idempotency_key) if idempotency_key else None
            if prior is not None:
                st.rollback()
                return prior["results"]
            results = []
            texts = []
            for ch in table_changes:
                row = self._tabular_row(wh["wh_key"], ch["levels"], ch["name"], "table")
                meta = unpack_metadata(row["metadata"]) if row else None
                new_meta = commit_engine.apply_commit(
                    meta if meta is not None else {},
                    ch["requirements"],
                    ch["updates"],
                    max_format_version=max(allowed_versions),
                    allowed_format_versions=allowed_versions,
                )
                if row is None:
                    raise NoSuchEntity(f"table {ch['name']} not found")
                new_meta.pop("staged", None)  # a successful commit finalizes staged creates
                expired_files.extend(
                    self._roll_metadata_log(wh, row, meta, new_meta, archived)
                )
                text = pack_metadata(new_meta)
                cur = st.execute(
                    "UPDATE tabulars SET metadata=?, metadata_seq=metadata_seq+1, updated_ms=?"
                    " WHERE id=? AND metadata_seq=?",
                    (text, now_ms(), row["id"], row["metadata_seq"]),
                )
                if cur.rowcount != 1:
                    raise CommitConflict("concurrent update lost the race")
                results.append(new_meta)
                texts.append(text)
                st.emit_event(
                    "commit-table",
                    wh["wh_key"],
                    f"{'.'.join(ch['levels'])}.{ch['name']}",
                    {"n_updates": len(ch["updates"])},
                )
            if idempotency_key and not st.idempotency_put(
                idempotency_key, {"results": results}
            ):
                raise CommitConflict("idempotency key recorded concurrently")
            st.commit()
        except BaseException as exc:
            st.rollback()
            # the archives this attempt wrote belong to no committed
            # version: leave no orphaned file behind
            for f in archived:
                Path(f).unlink(missing_ok=True)
            if idempotency_key and isinstance(exc, CommitConflict):
                prior = st.idempotency_get(idempotency_key)
                if prior is not None:
                    return prior["results"]
            raise
        # delete expired metadata files only after the transaction landed
        # (delete-after-commit, reference server/tables.rs:1730,2083)
        for f in expired_files:
            Path(f).unlink(missing_ok=True)
        if packed is not None:
            packed.extend(texts)
        return results

    def _roll_metadata_log(
        self,
        wh: dict[str, Any],
        prev_row: Any,
        prev_meta: dict[str, Any] | None,
        new_meta: dict[str, Any],
        archived: list[str],
    ) -> list[str]:
        """Archive the superseded metadata version and trim the log.

        Mirrors the reference's commit-time metadata maintenance
        (server/tables.rs:1550-1737): the previous TableMetadata is written
        to ``<location>/metadata/<seq>-<uuid>.metadata.json`` (``prev_row``'s
        stored text, verbatim; ``prev_meta`` is its parsed form), appended to
        the new metadata's ``metadata-log``, and the log is trimmed to
        ``write.metadata.previous-versions-max`` (default from warehouse
        props, reference default 100). Returns the expired files to delete
        AFTER the transaction commits when
        ``write.metadata.delete-after-commit.enabled`` (default true,
        tables.rs:96-97,2083) — losing referenced files is not safe. The
        archive's path is appended to ``archived`` so that a rolled-back
        commit can remove it.
        """
        from pathlib import Path

        if not prev_meta or prev_meta.get("staged"):
            return []
        loc = prev_meta.get("location")
        if not loc or "://" in loc:
            return []
        mdir = Path(loc) / "metadata"
        try:
            mdir.mkdir(parents=True, exist_ok=True)
            seq = prev_row["metadata_seq"]
            fpath = str(mdir / f"{seq:05d}-{new_uuid()[:8]}.metadata.json")
            with open(fpath, "w") as f:
                archived.append(fpath)
                f.write(prev_row["metadata"])
        except OSError:
            return []  # location not writable (e.g. registered external table)
        log = new_meta.setdefault("metadata-log", [])
        log.append(
            {
                "timestamp-ms": prev_meta.get("last-updated-ms"),
                "metadata-file": fpath,
                "latest-snapshot-id": prev_meta.get("current-snapshot-id"),
            }
        )
        props = new_meta.get("properties", {})
        max_prev = int(
            props.get(
                "write.metadata.previous-versions-max",
                wh["properties"].get("metadata-previous-versions-max", 100),
            )
        )
        if len(log) <= max_prev:
            return []
        expired_entries = log[: len(log) - max_prev]
        new_meta["metadata-log"] = log[len(log) - max_prev :]
        delete_after_commit = str(
            props.get("write.metadata.delete-after-commit.enabled", "true")
        ).lower() in ("true", "yes", "1")
        return [e["metadata-file"] for e in expired_entries] if delete_after_commit else []

    def drop_table(self, warehouse: str, levels, name: str, purge: bool = False) -> None:
        """Soft-delete (default, -> expiration queue) or schedule purge
        (reference DropTable + TabularDeleteProfile, server/tables.rs:710)."""
        wh = self._warehouse(warehouse)
        self._authorize("drop", wh["wh_key"], ident.res_key(levels, name))
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, "table")
            if not row:
                raise NoSuchEntity(f"table {'.'.join(levels)}.{name} not found")
            if row["protected"]:
                raise ProtectedEntity(f"table {name} is protected")
            profile = wh["properties"].get("delete-profile", "soft")
            task_scope = {
                "wh_key": wh["wh_key"],
                "entity": {"type": "table", "table-id": row["id"]},
                "entity_name": [*levels, name],
            }
            if profile == "hard" or purge:
                st.execute("DELETE FROM tabulars WHERE id=?", (row["id"],))
                # hard delete kills the grants too; a soft delete keeps
                # them so undrop restores access (expiration purges later)
                st.purge_authz_entity(
                    ident.qualify(wh["wh_key"], ident.res_key(levels, name))
                )
                if purge:
                    st.enqueue_task(
                        "tabular_purge",
                        {"location": row["location"], "id": row["id"]},
                        **task_scope,
                    )
            else:
                st.execute(
                    "UPDATE tabulars SET deleted_ms=? WHERE id=?", (now_ms(), row["id"])
                )
                delay = int(wh["properties"].get("expiration-seconds", 0)) * 1000
                st.enqueue_task(
                    "tabular_expiration",
                    {"id": row["id"], "purge": purge},
                    delay_ms=delay,
                    **task_scope,
                )
            st.emit_event(
                "drop-table", wh["wh_key"], f"{'.'.join(levels)}.{name}", {"purge": purge}
            )
            st.commit()
        except BaseException:
            st.rollback()
            raise

    def undrop_table(self, warehouse: str, levels, name: str) -> None:
        """Restore a soft-deleted table and cancel its expiration task
        (reference UndropTabularsRequest, warehouse/mod.rs:1450,1591-1615)."""
        wh = self._warehouse(warehouse)
        self._authorize("undrop", wh["wh_key"], ident.res_key(levels, name))
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, "table", deleted=True)
            if not row:
                raise NoSuchEntity(f"no soft-deleted table {'.'.join(levels)}.{name}")
            clash = self._tabular_row(wh["wh_key"], levels, name, "table")
            if clash:
                raise AlreadyExists(f"a live table named {name} exists")
            st.execute("UPDATE tabulars SET deleted_ms=NULL WHERE id=?", (row["id"],))
            st.cancel_tasks("tabular_expiration", row["id"])
            st.emit_event("undrop-tabular", wh["wh_key"], f"{'.'.join(levels)}.{name}", {})
            st.commit()
        except BaseException:
            st.rollback()
            raise

    def rename_table(
        self, warehouse: str, levels, name: str, new_levels, new_name: str, kind: str = "table"
    ) -> None:
        ident.validate_level(new_name)
        wh = self._warehouse(warehouse)
        self._authorize("rename", wh["wh_key"], ident.res_key(levels, name))
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, kind)
            if not row:
                raise NoSuchEntity(f"{kind} {'.'.join(levels)}.{name} not found")
            if not st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(new_levels)),
            ):
                raise NoSuchEntity(f"namespace {'.'.join(new_levels)} not found")
            same_ident = (
                ident.ns_key(new_levels) == row["ns_key"]
                and ident.fold(new_name) == row["name_key"]
            )
            clash = self._tabular_row(wh["wh_key"], new_levels, new_name, kind)
            if clash and not same_ident:
                raise AlreadyExists(f"{kind} {new_name} exists")
            st.execute(
                "UPDATE tabulars SET ns_key=?, name_key=?, name=? WHERE id=?",
                (ident.ns_key(new_levels), ident.fold(new_name), new_name, row["id"]),
            )
            st.move_authz_entity(
                ident.qualify(wh["wh_key"], ident.res_key(levels, name)),
                ident.qualify(wh["wh_key"], ident.res_key(new_levels, new_name)),
            )
            st.emit_event(
                "rename-table",
                wh["wh_key"],
                f"{'.'.join(levels)}.{name}",
                {"to": f"{'.'.join(new_levels)}.{new_name}"},
            )
            st.commit()
        except BaseException:
            st.rollback()
            raise

    def rename_view(self, warehouse: str, levels, name: str, new_levels, new_name: str) -> None:
        """ALTER VIEW ... RENAME TO (reference test_spark.py:100-120,
        test_rename_view; api/iceberg/v1/views.rs rename endpoint)."""
        self.rename_table(warehouse, levels, name, new_levels, new_name, kind="view")

    def list_views(
        self,
        warehouse: str,
        levels,
        page_token: str | None = None,
        page_size: int | None = None,
    ) -> tuple[list[str], str | None]:
        """SHOW VIEWS IN ns (reference test_spark.py:113-152)."""
        return self.list_tables(warehouse, levels, kind="view", page_token=page_token, page_size=page_size)

    def view_exists(self, warehouse: str, levels, name: str) -> bool:
        wh = self._warehouse(warehouse)
        return self._tabular_row(wh["wh_key"], levels, name, "view") is not None

    def create_or_replace_table(
        self,
        warehouse: str,
        levels,
        name: str,
        schema: dict[str, Any],
        partition_spec: dict[str, Any] | None = None,
        sort_order: dict[str, Any] | None = None,
        properties: dict[str, str] | None = None,
        format_version: int | None = None,
    ) -> dict[str, Any]:
        """CREATE OR REPLACE TABLE (reference test_spark.py:62-68,
        test_replace_table): an existing table is atomically replaced by a
        fresh one — new table UUID and location, empty snapshot history —
        and the old data/metadata files are queued for purge. Creates
        normally when the table does not exist."""
        wh = self._warehouse(warehouse)
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, "table")
            if row is None:
                st.rollback()
                return self.create_table(
                    warehouse,
                    levels,
                    name,
                    schema,
                    partition_spec,
                    sort_order,
                    properties,
                    format_version=format_version,
                )
            if row["protected"]:
                raise ProtectedEntity(f"table {name} is protected")
            from . import warehouse as wh_ops

            if format_version is None:
                format_version = wh_ops.resolve_default_format_version(
                    wh["properties"]
                )
            allowed = wh_ops.allowed_format_version_set(wh["properties"])
            if format_version not in allowed:
                raise CommitValidationError(
                    f"format-version {format_version} not in warehouse policy"
                    f" (allowed: {sorted(allowed)})"
                )
            old_meta = unpack_metadata(row["metadata"])
            table_uuid = new_uuid()
            location = self._table_location(wh, levels, table_uuid, name)
            meta = new_table_metadata(
                table_uuid, location, schema, partition_spec, sort_order, properties, format_version
            )
            st.execute("DELETE FROM tabulars WHERE id=?", (row["id"],))
            st.purge_authz_entity(ident.qualify(wh["wh_key"], ident.res_key(levels, name)))
            st.execute(
                "INSERT INTO tabulars (id, wh_key, ns_key, name_key, name, kind, metadata,"
                " location, created_ms, updated_ms) VALUES (?,?,?,?,?,?,?,?,?,?)",
                (
                    table_uuid,
                    wh["wh_key"],
                    ident.ns_key(levels),
                    ident.fold(name),
                    name,
                    "table",
                    pack_metadata(meta),
                    location,
                    now_ms(),
                    now_ms(),
                ),
            )
            st.enqueue_task(
                "tabular_purge",
                {"location": old_meta.get("location"), "id": old_meta.get("table-uuid")},
                wh_key=wh["wh_key"],
                entity={"type": "table", "table-id": old_meta.get("table-uuid")},
                entity_name=[*levels, name],
            )
            st.emit_event(
                "replace-table",
                wh["wh_key"],
                f"{'.'.join(levels)}.{name}",
                {"old-uuid": old_meta.get("table-uuid"), "new-uuid": table_uuid},
            )
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return meta

    def set_protection(
        self, warehouse: str, levels, name: str | None, protected: bool, kind: str = "table"
    ) -> dict[str, Any]:
        """Set the tabular/namespace protection flag; returns the
        reference's ProtectionResponse shape (management/mod.rs:1648)."""
        wh = self._warehouse(warehouse, any_status=True)
        resource = ident.res_key(levels, name)
        self._authorize("set_protection", wh["wh_key"], resource)
        st = self.store
        if name is None:
            cur = st.execute(
                "UPDATE namespaces SET protected=?, updated_ms=? WHERE wh_key=?"
                " AND ns_key=?",
                (int(protected), now_ms(), wh["wh_key"], ident.ns_key(levels)),
            )
        else:
            cur = st.execute(
                "UPDATE tabulars SET protected=?, updated_ms=? WHERE wh_key=?"
                " AND ns_key=? AND name_key=?"
                " AND kind=? AND deleted_ms IS NULL",
                (
                    int(protected),
                    now_ms(),
                    wh["wh_key"],
                    ident.ns_key(levels),
                    ident.fold(name),
                    kind,
                ),
            )
        if cur.rowcount == 0:
            raise NoSuchEntity("entity not found")
        return {"protected": protected, "updated-at": _ms_to_rfc3339(now_ms())}

    def get_protection(
        self, warehouse: str, levels, name: str | None, kind: str = "table"
    ) -> dict[str, Any]:
        """GetTable/View/GenericTable/NamespaceProtection
        (endpoints.rs:238-250): the current flag + last update time as a
        ProtectionResponse (management/mod.rs:1648)."""
        wh = self._warehouse(warehouse, any_status=True)
        if name is None:
            row = self.store.one(
                "SELECT protected, updated_ms FROM namespaces WHERE wh_key=?"
                " AND ns_key=?",
                (wh["wh_key"], ident.ns_key(levels)),
            )
        else:
            row = self.store.one(
                "SELECT protected, updated_ms FROM tabulars WHERE wh_key=?"
                " AND ns_key=? AND name_key=? AND kind=? AND deleted_ms IS NULL",
                (wh["wh_key"], ident.ns_key(levels), ident.fold(name), kind),
            )
        if row is None:
            raise NoSuchEntity("entity not found")
        updated = row["updated_ms"] if "updated_ms" in row.keys() else None
        return {
            "protected": bool(row["protected"]),
            "updated-at": _ms_to_rfc3339(updated) if updated else None,
        }

    def search_tabular(self, warehouse: str, query: str, limit: int = 10) -> list[dict[str, Any]]:
        """Fuzzy name search (reference SearchTabular, endpoints.rs:235)."""
        wh = self._warehouse(warehouse)
        rows = self.store.query(
            "SELECT ns_stored, name, kind FROM"
            " tabulars t JOIN namespaces n ON t.wh_key=n.wh_key AND t.ns_key=n.ns_key"
            " WHERE t.wh_key=? AND t.deleted_ms IS NULL",
            (wh["wh_key"],),
        )
        scored = [
            {
                "namespace": ident.ns_load(r["ns_stored"]),
                "name": r["name"],
                "kind": r["kind"],
                "score": difflib.SequenceMatcher(
                    None, ident.fold(query), ident.fold(r["name"])
                ).ratio(),
            }
            for r in rows
        ]
        scored.sort(key=lambda x: (-x["score"], x["name"]))
        return scored[:limit]

    # ================= views =================
    def create_view(
        self,
        warehouse: str,
        levels,
        name: str,
        sql: str,
        schema: dict[str, Any] | None = None,
        dialect: str = "spark",
        properties: dict[str, str] | None = None,
        replace: bool = False,
        representations: dict[str, str] | None = None,
    ) -> dict[str, Any]:
        """Versioned view metadata with per-dialect SQL representations
        (reference ViewMetadata/ViewVersion; server/views/commit.rs
        stores N sql representations per version — one per engine
        dialect). `representations` supplies additional dialect->sql
        pairs alongside the primary (sql, dialect); a dialect may appear
        only once per version, matching the reference's
        duplicate-dialect check."""
        ident.validate_level(name)
        wh = self._warehouse(warehouse)
        # same verb vocabulary as tables, per-entity gating (reference
        # CatalogViewAction, authz/mod.rs:940-993); a replace is a commit
        # to the existing view
        self._authorize(
            "commit" if replace else "create",
            wh["wh_key"],
            ident.res_key(levels, name),
        )
        reps = [{"type": "sql", "sql": sql, "dialect": dialect}]
        for d, s in (representations or {}).items():
            if d == dialect:
                if s != sql:
                    raise CatalogError(f"conflicting sql for dialect {d!r}")
                continue
            reps.append({"type": "sql", "sql": s, "dialect": d})
        st = self.store
        st.begin()
        try:
            if not st.one(
                "SELECT 1 FROM namespaces WHERE wh_key=? AND ns_key=?",
                (wh["wh_key"], ident.ns_key(levels)),
            ):
                raise NoSuchEntity(f"namespace {'.'.join(levels)} not found")
            row = self._tabular_row(wh["wh_key"], levels, name, "view")
            version = {
                "version-id": 1,
                "timestamp-ms": now_ms(),
                "schema": schema or {},
                "representations": reps,
                "default-namespace": list(levels),
            }
            if row:
                if not replace:
                    raise AlreadyExists(f"view {name} exists")
                meta = json.loads(row["metadata"])
                if properties:
                    from .view_security import guard_view_properties

                    guard_view_properties(
                        self,
                        meta.get("properties"),
                        {**meta.get("properties", {}), **properties},
                    )
                version["version-id"] = meta["current-version-id"] + 1
                meta["versions"].append(version)
                meta["current-version-id"] = version["version-id"]
                meta["version-log"].append(
                    {"version-id": version["version-id"], "timestamp-ms": version["timestamp-ms"]}
                )
                if properties:
                    meta["properties"].update(properties)
                cur = st.execute(
                    "UPDATE tabulars SET metadata=?, metadata_seq=metadata_seq+1, updated_ms=?"
                    " WHERE id=? AND metadata_seq=?",
                    (json.dumps(meta), now_ms(), row["id"], row["metadata_seq"]),
                )
                if cur.rowcount != 1:
                    raise CommitConflict("concurrent view update")
            else:
                from .view_security import guard_view_properties

                guard_view_properties(self, None, properties)
                view_uuid = new_uuid()
                meta = {
                    "view-uuid": view_uuid,
                    "format-version": 1,
                    "location": self._table_location(wh, levels, view_uuid, name),
                    "current-version-id": 1,
                    "versions": [version],
                    "version-log": [
                        {"version-id": 1, "timestamp-ms": version["timestamp-ms"]}
                    ],
                    "properties": dict(properties or {}),
                }
                st.execute(
                    "INSERT INTO tabulars (id, wh_key, ns_key, name_key, name, kind, metadata,"
                    " location, created_ms, updated_ms) VALUES (?,?,?,?,?,?,?,?,?,?)",
                    (
                        view_uuid,
                        wh["wh_key"],
                        ident.ns_key(levels),
                        ident.fold(name),
                        name,
                        "view",
                        json.dumps(meta),
                        meta["location"],
                        now_ms(),
                        now_ms(),
                    ),
                )
            st.emit_event("create-view", wh["wh_key"], f"{'.'.join(levels)}.{name}", {})
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return meta

    def load_view(self, warehouse: str, levels, name: str) -> dict[str, Any]:
        wh = self._warehouse(warehouse)
        self._authorize("get_metadata", wh["wh_key"], ident.res_key(levels, name))
        row = self._tabular_row(wh["wh_key"], levels, name, "view")
        if not row:
            raise NoSuchEntity(f"view {'.'.join(levels)}.{name} not found")
        return json.loads(row["metadata"])

    def view_sql(
        self,
        warehouse: str,
        levels,
        name: str,
        dialect: str = "spark",
        strict: bool = False,
    ) -> str:
        """Current-version SQL for `dialect`. Engines pick their own
        representation from ViewVersion.representations; with
        ``strict=True`` a missing dialect raises instead of falling back
        to the first stored representation."""
        meta = self.load_view(warehouse, levels, name)
        version = next(
            v for v in meta["versions"] if v["version-id"] == meta["current-version-id"]
        )
        for rep in version["representations"]:
            if rep["dialect"] == dialect:
                return rep["sql"]
        if strict:
            raise NoSuchEntity(
                f"view {name} has no representation for dialect {dialect!r}"
            )
        return version["representations"][0]["sql"]

    def add_view_dialect(
        self, warehouse: str, levels, name: str, dialect: str, sql: str
    ) -> dict[str, Any]:
        """Commit a NEW view version carrying the current representations
        plus one more dialect (reference server/views/commit.rs:
        AddViewVersion folds representations per version; a dialect may
        appear only once)."""
        meta = self.load_view(warehouse, levels, name)
        version = next(
            v for v in meta["versions"] if v["version-id"] == meta["current-version-id"]
        )
        reps = {r["dialect"]: r["sql"] for r in version["representations"]}
        reps[dialect] = sql
        primary_dialect = version["representations"][0]["dialect"]
        return self.create_view(
            warehouse,
            levels,
            name,
            reps[primary_dialect],
            schema=version.get("schema"),
            dialect=primary_dialect,
            replace=True,
            representations={d: s for d, s in reps.items() if d != primary_dialect},
        )

    def drop_view(self, warehouse: str, levels, name: str) -> None:
        wh = self._warehouse(warehouse)
        self._authorize("drop", wh["wh_key"], ident.res_key(levels, name))
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, "view")
            if not row:
                raise NoSuchEntity(f"view {'.'.join(levels)}.{name} not found")
            if row["protected"]:
                raise ProtectedEntity(f"view {name} is protected")
            st.execute("DELETE FROM tabulars WHERE id=?", (row["id"],))
            st.purge_authz_entity(ident.qualify(wh["wh_key"], ident.res_key(levels, name)))
            st.emit_event("drop-view", wh["wh_key"], f"{'.'.join(levels)}.{name}", {})
            st.commit()
        except BaseException:
            st.rollback()
            raise

    # ================= generic tables =================
    def create_generic_table(
        self,
        warehouse: str,
        levels,
        name: str,
        format: str,
        base_location: str,
        schema: dict[str, Any] | None = None,
        properties: dict[str, str] | None = None,
    ) -> dict[str, Any]:
        """Format-agnostic table registry (reference GenericTable,
        api/data/v1/generic_tables/mod.rs:36-71; open format string enum)."""
        wh = self._warehouse(warehouse)
        meta = {
            "format": format,
            "base-location": base_location,
            "schema": schema or {},
            "properties": dict(properties or {}),
        }
        st = self.store
        st.begin()
        try:
            if self._tabular_row(wh["wh_key"], levels, name, "generic"):
                raise AlreadyExists(f"generic table {name} exists")
            st.execute(
                "INSERT INTO tabulars (id, wh_key, ns_key, name_key, name, kind, metadata,"
                " location, format, created_ms, updated_ms) VALUES (?,?,?,?,?,?,?,?,?,?,?)",
                (
                    new_uuid(),
                    wh["wh_key"],
                    ident.ns_key(levels),
                    ident.fold(name),
                    name,
                    "generic",
                    json.dumps(meta),
                    base_location,
                    format,
                    now_ms(),
                    now_ms(),
                ),
            )
            st.emit_event("create-generic-table", wh["wh_key"], name, {"format": format})
            st.commit()
        except BaseException:
            st.rollback()
            raise
        return meta

    def storage_permissions_for(
        self, warehouse: str, levels, name: str
    ) -> "StoragePermissions | None":
        """Interpret the installed authorizer's read_data/write_data grants
        on one tabular into a vended-credential permission level, exactly
        like the tail of ``interpret_authz_results_for_load_table``
        (reference server/tables.rs:1164-1170): write access vends
        ReadWriteDelete, else read access vends Read, else None (no
        storage credentials — metadata-only access)."""
        from .vending import interpret_storage_permissions

        wh = self._warehouse(warehouse)
        resource = ident.res_key(levels, name)
        can_read = self._is_allowed("read_data", wh["wh_key"], resource)
        can_write = self._is_allowed("write_data", wh["wh_key"], resource)
        return interpret_storage_permissions(can_read, can_write)

    def load_credentials(
        self, warehouse: str, levels, name: str, kind: str = "table"
    ) -> dict[str, Any]:
        """LoadCredentials / LoadTableCredentials with the reference's
        downscoping semantics (server/tables.rs:563; generic-table
        LoadCredentials, api/data/v1/generic_tables/mod.rs):

          - the caller must be able to see the tabular (get_metadata) —
            denial is a 403 before existence is revealed;
          - the permission LEVEL comes from the authorizer's
            read_data/write_data grants (tables.rs:1164-1170) — a
            read-only RBAC principal gets read-only credentials;
          - a principal with neither grant gets NO storage credentials
            (AuthorizationError, matching the reference's empty
            storage_permissions → no creds in the LoadTable response);
          - the vended prefix is the TABLE location, never the warehouse
            root; the session policy downscopes to exactly that prefix
            (service/storage/s3.rs:961-1015);
          - expiry honors the warehouse `sts-token-validity-seconds`
            property (S3Profile.sts_token_validity_seconds, s3.rs:101,
            default 3600); the revalidate-after horizon is half the
            remaining lifetime capped at 1h
            (credential_serve_window, service/storage/mod.rs:128-133).

        The STS call itself is cloud-bound; the session keys are
        deterministic sha256 derivations (catalog/vending.py) so re-vends
        inside the validity window are cache-equivalent."""
        from .vending import credential_serve_window_ms, vend_for_location

        wh = self._warehouse(warehouse)
        resource = ident.res_key(levels, name)
        self._authorize("get_metadata", wh["wh_key"], resource)
        row = self._tabular_row(wh["wh_key"], levels, name, kind)
        if not row:
            raise NoSuchEntity(f"{kind} {'.'.join(levels)}.{name} not found")
        perms = self.storage_permissions_for(warehouse, levels, name)
        if perms is None:
            from .authz import AuthorizationError

            raise AuthorizationError(
                f"actor {self._actor!r} holds neither read_data nor"
                f" write_data on {resource}: no storage credentials vended"
            )
        validity = int(
            wh["properties"].get("sts-token-validity-seconds", 3600)
        )
        now = now_ms()
        # profile dispatch: the location's storage flavor selects the
        # credential shape — S3/STS session policy, ADLS directory SAS,
        # or GCS downscoped access-boundary token (catalog/vending.py)
        cred = vend_for_location(
            row["id"], row["location"] or "", perms, validity, now,
            sts_vendor=self.sts_vendor,
            adls_vendor=self.adls_vendor,
            gcs_vendor=self.gcs_vendor,
        )
        remaining = cred["config"]["expiration-ms"] - now
        return {
            "storage-credentials": [cred],
            "credentials-revalidate-after-ms": now
            + credential_serve_window_ms(remaining),
        }

    def load_generic_table(self, warehouse: str, levels, name: str) -> dict[str, Any]:
        wh = self._warehouse(warehouse)
        row = self._tabular_row(wh["wh_key"], levels, name, "generic")
        if not row:
            raise NoSuchEntity(f"generic table {name} not found")
        return json.loads(row["metadata"])

    def drop_generic_table(self, warehouse: str, levels, name: str) -> None:
        wh = self._warehouse(warehouse)
        st = self.store
        st.begin()
        try:
            row = self._tabular_row(wh["wh_key"], levels, name, "generic")
            if not row:
                raise NoSuchEntity(f"generic table {name} not found")
            st.execute("DELETE FROM tabulars WHERE id=?", (row["id"],))
            st.purge_authz_entity(ident.qualify(wh["wh_key"], ident.res_key(levels, name)))
            st.emit_event("drop-generic-table", wh["wh_key"], name, {})
            st.commit()
        except BaseException:
            st.rollback()
            raise

    # ================= events =================
    def list_events(self, limit: int = 100) -> list[dict[str, Any]]:
        rows = self.store.query(
            "SELECT seq, ts_ms, event_type, wh_key, entity, payload FROM events"
            " ORDER BY seq DESC LIMIT ?",
            (limit,),
        )
        return [
            {
                "seq": r["seq"],
                "ts-ms": r["ts_ms"],
                "type": r["event_type"],
                "warehouse": r["wh_key"],
                "entity": r["entity"],
                "payload": json.loads(r["payload"] or "{}"),
            }
            for r in rows
        ]


def _warehouse_ident(warehouse: str) -> tuple[str | None, str]:
    """Split a warehouse identifier into (project, name): engines pass
    ``project/name`` to GET /config, everyone else the bare name."""
    if "/" in warehouse:
        project, name = warehouse.split("/", 1)
        return project, name
    return None, warehouse


# ---------------------------------------------------------------------------
# time helpers for the endpoint-statistics surface
# ---------------------------------------------------------------------------
def _parse_rfc3339_ms(value: Any) -> int:
    """RFC 3339 string or epoch-milliseconds -> epoch-milliseconds."""
    if isinstance(value, (int, float)):
        return int(value)
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(str(value).replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _ms_to_rfc3339(ms: int) -> str:
    from datetime import datetime, timezone

    return (
        datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
        .isoformat(timespec="seconds")
        .replace("+00:00", "Z")
    )


def _parse_iso8601_duration_ms(value: str) -> int:
    """The ISO 8601 duration subset the reference's stats API documents
    (PT1H, P1D, PT30M, ...): days + hours + minutes + seconds."""
    import re as _re

    m = _re.fullmatch(
        r"P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
        str(value).upper(),
    )
    if not m or not any(m.groups()):
        raise CatalogError(f"invalid ISO 8601 duration: {value!r}")
    days, hours, minutes, seconds = (
        int(m.group(1) or 0),
        int(m.group(2) or 0),
        int(m.group(3) or 0),
        float(m.group(4) or 0),
    )
    return int(
        ((days * 24 + hours) * 60 + minutes) * 60_000 + seconds * 1000
    )
