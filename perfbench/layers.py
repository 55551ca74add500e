"""The traced run: wrappers at each layer boundary and the per-layer
metrics computed from their spans.

Layers (module -> wrapped callables):
  rest            RestCatalogClient route methods (client side of a request)
  catalog         Catalog.load_table / list_tables / commit_transaction
  catalog.commit  commit.apply_commit
  catalog.metadoc pack_metadata / unpack_metadata as bound in catalog.catalog
  catalog.metastore Metastore.begin / commit / rollback, statements counted
  format.icelite  SparkTable DML/scan/maintenance ops, plan_table_scan
  spark, queries  counted by the workloads themselves (sparkstats.py)
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any

from . import stats
from .trace import Span, Tracer, link_rest

ROUTES = ("load_table", "load_table_304", "list_tables", "plan_table_scan", "commit_table")
ICELITE_OPS = (
    "append",
    "scan",
    "delete_where",
    "update_where",
    "merge",
    "rewrite_data_files",
    "expire_snapshots",
)
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)
OVERHEAD = ("ops_per_s", "read_p50_ms", "write_p50_ms", "op_geomean_ms")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order. Each
    workload reports all of them; a layer it does not reach reads 0."""
    from .wl_pipeline import QUERIES

    out: list[tuple[str, str]] = []
    for r in ROUTES:
        out += [(f"rest.{r}.requests", "count"), (f"rest.{r}.self_ms", "ms"), (f"rest.{r}.tail_ms", "ms")]
    out += [("rest.status_304", "count"), ("rest.status_409", "count"), ("rest.status_5xx", "count")]
    out += [
        ("catalog.load_table.calls", "count"),
        ("catalog.load_table.ms", "ms"),
        ("catalog.list_tables.ms", "ms"),
        ("catalog.commit_transaction.calls", "count"),
        ("catalog.commit_transaction.ms", "ms"),
        ("catalog.commit.conflicts", "count"),
        ("catalog.commit.success_ratio", "ratio"),
        ("catalog.commit.apply_ms", "ms"),
        ("catalog.metadoc.unpack_ms", "ms"),
        ("catalog.metadoc.unpack_bytes", "bytes"),
        ("catalog.metadoc.pack_ms", "ms"),
        ("catalog.metadoc.pack_bytes", "bytes"),
        ("catalog.metadata_files_bytes", "bytes"),
        ("catalog.metastore.lock_wait_ms", "ms"),
        ("catalog.metastore.txn_ms", "ms"),
        ("catalog.metastore.statements", "count"),
    ]
    for op in ICELITE_OPS:
        out += [(f"format.icelite.{op}.ms", "ms"), (f"format.icelite.{op}.driver_ms", "ms")]
    out += [
        ("format.icelite.plan_table_scan.ms", "ms"),
        ("format.icelite.files_written", "count"),
        ("format.icelite.delete_files_written", "count"),
        ("format.icelite.bytes_written", "bytes"),
        ("format.icelite.plan.files_kept_ratio", "ratio"),
    ]
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    out += [(f"spark.{c}", units.get(c, "ms" if c.endswith("_ms") else "bytes")) for c in SPARK_COUNTERS]
    out += [(f"spark.{op}.jobs", "count") for op in ICELITE_OPS]
    for q in QUERIES:
        out += [(f"queries.{q}.plan_build_ms", "ms"), (f"queries.{q}.exec_ms", "ms")]
    out += [("host.steal_s", "s"), ("host.cpu_s", "s"), ("host.loadavg_start", "load")]
    out += [(f"trace.overhead.{m}", "1/s" if m == "ops_per_s" else "ms") for m in OVERHEAD]
    return out


def install(tracer: Tracer) -> None:
    from lakekeeper_spark.catalog import catalog as catalog_mod
    from lakekeeper_spark.catalog import commit as commit_mod
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format import icelite
    from lakekeeper_spark.rest.client import RestCatalogClient

    def route(span: Span, args: tuple, kwargs: dict, result: Any) -> None:
        etag = kwargs.get("etag", args[4] if len(args) > 4 else None)
        if etag is not None:
            span.attrs["route"] = "load_table_304"

    for r in ("load_table", "list_tables", "plan_table_scan", "commit_table"):
        tracer.wrap(RestCatalogClient, r, f"rest.{r}", route if r == "load_table" else None)
    link_rest(tracer)

    for name in ("load_table", "list_tables", "commit_transaction"):
        tracer.wrap(catalog_mod.Catalog, name, f"catalog.{name}")
    tracer.wrap(commit_mod, "apply_commit", "catalog.commit.apply")

    def packed(span, args, kwargs, result):
        span.attrs["bytes"] = len(result) if result is not None else 0

    def unpacked(span, args, kwargs, result):
        doc = args[0] if args else kwargs.get("blob", "")
        span.attrs["bytes"] = len(doc) if isinstance(doc, (str, bytes)) else 0

    # catalog.py binds these names at import: wrap its module attributes
    tracer.wrap(catalog_mod, "pack_metadata", "catalog.metadoc.pack", packed)
    tracer.wrap(catalog_mod, "unpack_metadata", "catalog.metadoc.unpack", unpacked)

    local = tracer._local

    def began(span, args, kwargs, result):
        local.txn_start = span.end

    def ended(span, args, kwargs, result):
        start = getattr(local, "txn_start", None)
        if start is not None:
            span.attrs["txn_ms"] = (span.end - start) * 1000.0
            local.txn_start = None

    tracer.wrap(Metastore, "begin", "catalog.metastore.begin", began)
    tracer.wrap(Metastore, "commit", "catalog.metastore.commit", ended)
    tracer.wrap(Metastore, "rollback", "catalog.metastore.rollback", ended)
    for name in ("execute", "query", "one"):
        tracer.count_calls(Metastore, name, "catalog.metastore.statements")

    for op in ICELITE_OPS:
        tracer.wrap(icelite.SparkTable, op, f"format.icelite.{op}")
    # the REST server imports plan_table_scan from the module at call time
    tracer.wrap(icelite, "plan_table_scan", "format.icelite.plan_table_scan")


@contextmanager
def tracing():
    tracer = Tracer()
    install(tracer)
    try:
        yield tracer
    finally:
        tracer.restore()


def _total_ms(spans: list[Span]) -> float:
    return sum(s.ms for s in spans)


def span_metrics(tracer: Tracer) -> tuple[dict[str, float], dict[str, Any]]:
    """Per-layer metrics from the spans, and per-route tail details."""
    kids = tracer.children()
    out: dict[str, float] = {}
    detail: dict[str, Any] = {}
    rest: dict[str, list[Span]] = {r: [] for r in ROUTES}
    for r in ("load_table", "list_tables", "plan_table_scan", "commit_table"):
        for s in tracer.named(f"rest.{r}"):
            rest[s.attrs.get("route", r)].append(s)
    for r, spans in rest.items():
        out[f"rest.{r}.requests"] = len(spans)
        selfs = [tracer.self_ms([s], kids) for s in spans]
        out[f"rest.{r}.self_ms"] = stats.median(selfs) if selfs else 0.0
        t = stats.tail([s.ms for s in spans])
        out[f"rest.{r}.tail_ms"] = t[1] if t else 0.0
        detail[f"rest.{r}"] = {"n": len(spans), "tail_pct": t[0] if t else None}
    loads = tracer.named("catalog.load_table")
    commits = tracer.named("catalog.commit_transaction")
    conflicts = [s for s in commits if s.attrs.get("error") == "CommitConflict"]
    landed = [s for s in commits if "error" not in s.attrs]
    out.update(
        {
            "catalog.load_table.calls": len(loads),
            "catalog.load_table.ms": _total_ms(loads),
            "catalog.list_tables.ms": _total_ms(tracer.named("catalog.list_tables")),
            "catalog.commit_transaction.calls": len(commits),
            "catalog.commit_transaction.ms": _total_ms(commits),
            "catalog.commit.conflicts": len(conflicts),
            "catalog.commit.success_ratio": len(landed) / len(commits) if commits else 0.0,
            "catalog.commit.apply_ms": _total_ms(tracer.named("catalog.commit.apply")),
        }
    )
    for kind in ("pack", "unpack"):
        spans = tracer.named(f"catalog.metadoc.{kind}")
        out[f"catalog.metadoc.{kind}_ms"] = _total_ms(spans)
        out[f"catalog.metadoc.{kind}_bytes"] = sum(s.attrs.get("bytes", 0) for s in spans)
    ends = tracer.named("catalog.metastore.commit") + tracer.named("catalog.metastore.rollback")
    out["catalog.metastore.lock_wait_ms"] = _total_ms(tracer.named("catalog.metastore.begin"))
    out["catalog.metastore.txn_ms"] = sum(s.attrs.get("txn_ms", 0.0) for s in ends)
    out["catalog.metastore.statements"] = tracer.counts.get("catalog.metastore.statements", 0)
    for op in ICELITE_OPS + ("plan_table_scan",):
        out[f"format.icelite.{op}.ms"] = _total_ms(tracer.named(f"format.icelite.{op}"))
    return out, detail


def spark_metrics(per_op: list[dict[str, Any]]) -> tuple[dict[str, float], list[dict[str, Any]]]:
    """Totals over every op, jobs per icelite op, driver_ms per icelite op
    (op time no Spark job covers) and the per-op count rows."""
    out: dict[str, float] = {f"spark.{c}": sum(r[c] for r in per_op) for c in SPARK_COUNTERS}
    for op in ICELITE_OPS:
        rows = [r for r in per_op if r["op"] == op]
        out[f"spark.{op}.jobs"] = sum(r["jobs"] for r in rows)
        out[f"format.icelite.{op}.driver_ms"] = 1000.0 * sum(
            stats.self_time(r["start"], r["end"], r["job_intervals"]) for r in rows
        )
    counts = [
        {"op": r["op"], "jobs": r["jobs"], "stages": r["stages"], "tasks": r["tasks"]}
        for r in per_op
    ]
    return out, counts
