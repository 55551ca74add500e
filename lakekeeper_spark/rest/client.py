"""HTTP client for the Iceberg-REST facade, shaped like `Catalog`.

Implements the Catalog method surface engines need over the wire —
load_table (with ETag revalidation), commit_table/commit_transaction
(with idempotency keys), namespace/table/view DDL, generic tables,
credentials — so a `SparkTable` (format/icelite.py) can run its whole
read/write lifecycle against a server it only knows by URL, the way
stock Spark+Iceberg talks to the reference
(tests/python/tests/conftest.py:802-819).

Error translation inverts the server's taxonomy: 404 -> NoSuchEntity,
409 CommitFailedException -> CommitConflict, 409 otherwise ->
AlreadyExists, 304 -> NotModified, 400 -> CatalogError.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from typing import Any
from urllib.parse import quote

from ..catalog.catalog import (
    AlreadyExists,
    CatalogError,
    CommitConflict,
    NoSuchEntity,
    NotModified,
)

NS_SEP = "\x1f"


def _ns_path(levels) -> str:
    return quote(NS_SEP.join(levels), safe="")


class RestCatalogClient:
    """Catalog-compatible facade over HTTP. `warehouse` arguments on each
    method are honored (they become the route prefix), so one client can
    serve many warehouses just like the library Catalog."""

    def __init__(self, base_url: str, token: str | None = None):
        """``token``: optional Bearer credential sent on every request —
        the raw principal with the identity stub, or a signed JWT when
        the server runs an AuthenticatorChain."""
        self.base_url = base_url.rstrip("/")
        self.token = token

    # ---- transport ------------------------------------------------------
    def _request(
        self,
        method: str,
        path: str,
        body: dict[str, Any] | None = None,
        headers: dict[str, str] | None = None,
    ) -> tuple[int, dict[str, Any], dict[str, str]]:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base_url + path, data=data, method=method, headers=headers or {}
        )
        if data is not None:
            req.add_header("Content-Type", "application/json")
        if self.token and "Authorization" not in (headers or {}):
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req) as resp:
                raw = resp.read()
                payload = json.loads(raw) if raw else {}
                return resp.status, payload, dict(resp.headers)
        except urllib.error.HTTPError as e:
            raw = e.read()
            try:
                err = json.loads(raw)["error"]
            except Exception:
                err = {"type": "Unknown", "message": raw.decode(errors="replace")}
            self._raise(e.code, err["type"], err["message"])

    @staticmethod
    def _raise(code: int, etype: str, message: str):
        if code == 304:
            raise NotModified()
        if code == 403:
            from ..catalog.authz import AuthorizationError

            raise AuthorizationError(message)
        if code == 404:
            raise NoSuchEntity(message)
        if code == 409:
            if etype == "CommitFailedException":
                raise CommitConflict(message)
            if etype == "ProtectedEntityException":
                from ..catalog.catalog import ProtectedEntity

                raise ProtectedEntity(message)
            raise AlreadyExists(message)
        raise CatalogError(f"{etype}: {message}")

    # ---- config / namespaces -------------------------------------------
    def config(self, warehouse: str) -> dict[str, Any]:
        _, body, _ = self._request("GET", f"/catalog/v1/config?warehouse={warehouse}")
        return body

    def create_namespace(self, warehouse, levels, properties=None, exists_ok=False):
        try:
            self._request(
                "POST",
                f"/catalog/v1/{warehouse}/namespaces",
                {"namespace": list(levels), "properties": properties or {}},
            )
        except AlreadyExists:
            if not exists_ok:
                raise
        return tuple(levels)

    def namespace_exists(self, warehouse, levels) -> bool:
        try:
            self._request(
                "HEAD", f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}"
            )
            return True
        except NoSuchEntity:
            return False

    def list_namespaces(self, warehouse, parent=None, page_token=None, page_size=None):
        q = []
        if parent:
            q.append(f"parent={_ns_path(parent)}")
        if page_token:
            q.append(f"pageToken={quote(page_token, safe='')}")
        if page_size is not None:
            q.append(f"pageSize={page_size}")
        qs = ("?" + "&".join(q)) if q else ""
        _, body, _ = self._request("GET", f"/catalog/v1/{warehouse}/namespaces{qs}")
        return (
            [tuple(n) for n in body["namespaces"]],
            body.get("next-page-token"),
        )

    def namespace_properties(self, warehouse, levels) -> dict[str, Any]:
        _, body, _ = self._request(
            "GET", f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}"
        )
        return body["properties"]

    def update_namespace_properties(self, warehouse, levels, updates, removals=()):
        _, body, _ = self._request(
            "POST",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/properties",
            {"updates": updates, "removals": list(removals)},
        )
        return body

    def drop_namespace(self, warehouse, levels) -> None:
        self._request(
            "DELETE", f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}"
        )

    # ---- tables ----------------------------------------------------------
    def _tbl(self, warehouse, levels, name, suffix="") -> str:
        return (
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}"
            f"/tables/{quote(name, safe='')}{suffix}"
        )

    def create_table(
        self,
        warehouse,
        levels,
        name,
        schema,
        partition_spec=None,
        sort_order=None,
        properties=None,
        stage_create=False,
        format_version=None,
        location=None,
    ):
        props = dict(properties or {})
        if format_version is not None:
            props.setdefault("format-version", format_version)
        _, body, _ = self._request(
            "POST",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/tables",
            {
                "name": name,
                "schema": schema,
                "partition-spec": partition_spec,
                "write-order": sort_order,
                "properties": props,
                "stage-create": stage_create,
                "location": location,
            },
        )
        return body["metadata"]

    def register_table(self, warehouse, levels, name, metadata):
        _, body, _ = self._request(
            "POST",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/register",
            {"name": name, "metadata": metadata},
        )
        return body["metadata"]

    def load_table(self, warehouse, levels, name, etag=None):
        headers = {"If-None-Match": f'W/"{etag}"'} if etag is not None else {}
        # request the descriptor-pooled form (vendor extension): the
        # wire payload stays O(snapshots + manifests) however long the
        # retained history; unpack_document is a no-op for servers that
        # ignore the flag
        _, body, resp_headers = self._request(
            "GET",
            self._tbl(warehouse, levels, name) + "?pooled-manifests=true",
            headers=headers,
        )
        new_etag = int(resp_headers.get("ETag", 'W/"0"').strip('W/"'))
        from ..catalog.metadoc import unpack_document

        return unpack_document(body["metadata"]), new_etag

    def plan_table_scan(
        self,
        warehouse,
        levels,
        name,
        snapshot_id=None,
        ref=None,
        partition_filter=None,
        stats_filter=None,
        page_size=None,
    ):
        """PlanTableScan: server-side file scan tasks with per-file delete
        artifacts and partition/bounds pruning (the four-route protocol
        the reference declares but leaves unimplemented,
        api/endpoints.rs:126-135). With ``page_size`` the ASYNC protocol
        runs: submit -> poll FetchPlanningResult -> exchange each opaque
        plan-task token via FetchScanTasks — the flow that stays usable
        when the plan is too large for one response. The returned dict
        has the same shape either way."""
        body = {}
        if snapshot_id is not None:
            body["snapshot-id"] = snapshot_id
        if ref is not None:
            body["ref"] = ref
        if partition_filter:
            body["partition-filter"] = partition_filter
        if stats_filter:
            body["stats-filter"] = {k: list(v) for k, v in stats_filter.items()}
        if page_size:
            body["page-size"] = int(page_size)
        _, plan, _ = self._request(
            "POST", self._tbl(warehouse, levels, name) + "/plan", body
        )
        if plan.get("status") != "submitted":
            return plan
        result = self.fetch_planning_result(warehouse, levels, name, plan["plan-id"])
        tasks = []
        for token in result["plan-tasks"]:
            tasks.extend(self.fetch_scan_tasks(warehouse, levels, name, token))
        result["plan-tasks"] = tasks
        return result

    def fetch_planning_result(
        self, warehouse, levels, name, plan_id, timeout_s: float = 30.0
    ):
        """Poll GET .../plan/{id} until the plan leaves 'submitted'."""
        import time

        deadline = time.monotonic() + timeout_s
        while True:
            _, result, _ = self._request(
                "GET", self._tbl(warehouse, levels, name) + f"/plan/{plan_id}"
            )
            if result["status"] == "completed":
                return result
            if result["status"] in ("failed", "cancelled"):
                raise CatalogError(
                    f"plan {plan_id} {result['status']}: {result.get('error', '')}"
                )
            if time.monotonic() > deadline:
                raise CatalogError(f"plan {plan_id} timed out")
            time.sleep(0.02)

    def fetch_scan_tasks(self, warehouse, levels, name, plan_task):
        _, body, _ = self._request(
            "POST",
            self._tbl(warehouse, levels, name) + "/tasks",
            {"plan-task": plan_task},
        )
        return body["file-scan-tasks"]

    def cancel_planning(self, warehouse, levels, name, plan_id):
        self._request(
            "DELETE", self._tbl(warehouse, levels, name) + f"/plan/{plan_id}"
        )

    def table_exists(self, warehouse, levels, name) -> bool:
        try:
            self._request("HEAD", self._tbl(warehouse, levels, name))
            return True
        except NoSuchEntity:
            return False

    def list_tables(self, warehouse, levels, kind="table", page_token=None, page_size=None):
        base = (
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/tables"
            if kind == "table"
            else f"/data/v1/{warehouse}/namespaces/{_ns_path(levels)}/generic-tables"
        )
        q = []
        if page_token:
            q.append(f"pageToken={quote(page_token, safe='')}")
        if page_size is not None:
            q.append(f"pageSize={page_size}")
        _, body, _ = self._request("GET", base + (("?" + "&".join(q)) if q else ""))
        return [i["name"] for i in body["identifiers"]], body.get("next-page-token")

    def commit_table(
        self, warehouse, levels, name, requirements, updates, idempotency_key=None
    ):
        headers = {"Idempotency-Key": idempotency_key} if idempotency_key else {}
        # the pooled reply is the text the server stored for the new
        # version, sent without a second encode (see load_table)
        _, body, _ = self._request(
            "POST",
            self._tbl(warehouse, levels, name) + "?pooled-manifests=true",
            {"requirements": requirements, "updates": updates},
            headers=headers,
        )
        from ..catalog.metadoc import unpack_document

        return unpack_document(body["metadata"])

    def commit_transaction(self, warehouse, table_changes, idempotency_key=None):
        headers = {"Idempotency-Key": idempotency_key} if idempotency_key else {}
        self._request(
            "POST",
            f"/catalog/v1/{warehouse}/transactions/commit",
            {
                "table-changes": [
                    {
                        "identifier": {
                            "namespace": list(ch["levels"]),
                            "name": ch["name"],
                        },
                        "requirements": ch["requirements"],
                        "updates": ch["updates"],
                    }
                    for ch in table_changes
                ]
            },
            headers=headers,
        )

    def drop_table(self, warehouse, levels, name, purge=False) -> None:
        q = "?purgeRequested=true" if purge else ""
        self._request("DELETE", self._tbl(warehouse, levels, name) + q)

    def rename_table(self, warehouse, levels, name, new_levels, new_name) -> None:
        self._request(
            "POST",
            f"/catalog/v1/{warehouse}/tables/rename",
            {
                "source": {"namespace": list(levels), "name": name},
                "destination": {"namespace": list(new_levels), "name": new_name},
            },
        )

    def report_metrics(self, warehouse, levels, name, report) -> None:
        self._request(
            "POST", self._tbl(warehouse, levels, name, "/metrics"), report
        )

    def load_credentials(self, warehouse, levels, name, kind="table"):
        path = (
            self._tbl(warehouse, levels, name, "/credentials")
            if kind == "table"
            else (
                f"/data/v1/{warehouse}/namespaces/{_ns_path(levels)}"
                f"/generic-tables/{quote(name, safe='')}/credentials"
            )
        )
        _, body, _ = self._request("GET", path)
        return body

    # ---- views ------------------------------------------------------------
    def _view(self, warehouse, levels, name) -> str:
        return (
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}"
            f"/views/{quote(name, safe='')}"
        )

    def create_view(
        self,
        warehouse,
        levels,
        name,
        sql,
        schema=None,
        dialect="spark",
        properties=None,
        replace=False,
        representations=None,
    ):
        _, body, _ = self._request(
            "POST",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/views",
            {
                "name": name,
                "sql": sql,
                "schema": schema,
                "dialect": dialect,
                "properties": properties,
                "replace": replace,
                "representations": representations,
            },
        )
        return body["metadata"]

    def load_view(self, warehouse, levels, name):
        _, body, _ = self._request("GET", self._view(warehouse, levels, name))
        return body["metadata"]

    def view_exists(self, warehouse, levels, name) -> bool:
        try:
            self._request("HEAD", self._view(warehouse, levels, name))
            return True
        except NoSuchEntity:
            return False

    def list_views(self, warehouse, levels, page_token=None, page_size=None):
        q = []
        if page_token:
            q.append(f"pageToken={quote(page_token, safe='')}")
        if page_size is not None:
            q.append(f"pageSize={page_size}")
        _, body, _ = self._request(
            "GET",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/views"
            + (("?" + "&".join(q)) if q else ""),
        )
        return [i["name"] for i in body["identifiers"]], body.get("next-page-token")

    def drop_view(self, warehouse, levels, name) -> None:
        self._request("DELETE", self._view(warehouse, levels, name))

    def rename_view(self, warehouse, levels, name, new_levels, new_name) -> None:
        self._request(
            "POST",
            f"/catalog/v1/{warehouse}/views/rename",
            {
                "source": {"namespace": list(levels), "name": name},
                "destination": {"namespace": list(new_levels), "name": new_name},
            },
        )

    # ---- generic tables ----------------------------------------------------
    def create_generic_table(
        self, warehouse, levels, name, format, base_location, schema=None, properties=None
    ):
        _, body, _ = self._request(
            "POST",
            f"/data/v1/{warehouse}/namespaces/{_ns_path(levels)}/generic-tables",
            {
                "name": name,
                "format": format,
                "base-location": base_location,
                "schema": schema,
                "properties": properties,
            },
        )
        return body

    def load_generic_table(self, warehouse, levels, name):
        _, body, _ = self._request(
            "GET",
            f"/data/v1/{warehouse}/namespaces/{_ns_path(levels)}"
            f"/generic-tables/{quote(name, safe='')}",
        )
        return body

    def drop_generic_table(self, warehouse, levels, name) -> None:
        self._request(
            "DELETE",
            f"/data/v1/{warehouse}/namespaces/{_ns_path(levels)}"
            f"/generic-tables/{quote(name, safe='')}",
        )

    # ---- S3 remote signing (reference endpoints.rs:181-185) -----------------
    def sign_s3(
        self,
        warehouse,
        region,
        uri,
        method,
        headers=None,
        body=None,
        tabular_id=None,
    ) -> dict[str, Any]:
        """POST an S3SignRequest; returns {'uri': ..., 'headers': {name:
        [values]}} with the Authorization header filled in."""
        path = (
            f"/catalog/v1/signer/{warehouse}/tabular-id/{quote(str(tabular_id), safe='')}"
            "/v1/aws/s3/sign"
            if tabular_id is not None
            else f"/catalog/v1/{warehouse}/v1/aws/s3/sign"
        )
        _, out, _ = self._request(
            "POST",
            path,
            {
                "region": region,
                "uri": uri,
                "method": method,
                "headers": headers or {},
                "body": body,
            },
        )
        return out

    # ---- management ---------------------------------------------------------
    def create_warehouse(self, name, location, properties=None):
        _, body, _ = self._request(
            "POST",
            "/management/v1/warehouse",
            {
                "warehouse-name": name,
                "storage-profile": {"type": "local", "location": location},
                "properties": properties or {},
            },
        )
        return body

    def undrop_table(self, warehouse, levels, name) -> None:
        self._request(
            "POST",
            f"/management/v1/warehouse/{warehouse}/deleted-tabulars/undrop",
            {"targets": [{"namespace": list(levels), "name": name}]},
        )

    def warehouse_statistics(self, warehouse):
        _, body, _ = self._request(
            "GET", f"/management/v1/warehouse/{warehouse}/statistics"
        )
        return body

    def search_tabular(self, warehouse, query, limit=10):
        _, body, _ = self._request(
            "GET",
            f"/management/v1/search/tabular?warehouse={warehouse}"
            f"&q={quote(query, safe='')}&limit={limit}",
        )
        return body["tabulars"]

    def update_warehouse_properties(self, warehouse, updates=None, removals=None):
        _, body, _ = self._request(
            "POST",
            f"/management/v1/warehouse/{warehouse}/properties",
            {"updates": updates or {}, "removals": list(removals or [])},
        )
        return body

    def set_protection(self, warehouse, levels, name, protected, kind="table"):
        if name is None:
            path = (
                f"/management/v1/warehouse/{warehouse}"
                f"/namespace/{_ns_path(levels)}/protection"
            )
        else:
            path = (
                f"/management/v1/warehouse/{warehouse}"
                f"/table/{_ns_path(levels)}/{quote(name, safe='')}/protection"
            )
        self._request("POST", path, {"protected": bool(protected)})

    def load_table_refs_only(self, warehouse, levels, name):
        """LoadTable with ?snapshots=refs (ref-reachable ancestry only)."""
        _, body, headers = self._request(
            "GET", self._tbl(warehouse, levels, name) + "?snapshots=refs"
        )
        return body["metadata"], int(headers.get("ETag", 'W/"0"').strip('W/"'))

    def register_table_from_file(self, warehouse, levels, name, metadata_location):
        _, body, _ = self._request(
            "POST",
            f"/catalog/v1/{warehouse}/namespaces/{_ns_path(levels)}/register",
            {"name": name, "metadata-location": metadata_location},
        )
        return body["metadata"]
