"""catalog_rest: the REST catalog under four closed-loop clients.

Set-up builds a metastore with 64 tables through the library Catalog:
half with about 300 snapshots, half with about 20. Two template tables
get their history from real snapshot payloads (manifest and manifest-list
files, the same code an engine commit runs), folded with the commit
engine and committed in chunks; each benchmark table is then registered
with a copy of its template's metadata under its own uuid and location.
An in-process RestCatalogServer serves the tables over loopback HTTP.

The loop: four RestCatalogClient threads, each with its own op list drawn
from the seed (40% loadTable, 25% loadTable with If-None-Match, 10%
listTables, 10% PlanTableScan with a stats filter, 15% commitTable), on
Zipf-skewed table choices. A commit loads the table, writes a one-file
append snapshot and commits it under assert-ref-snapshot-id; on 409 it
reloads and retries.
"""

from __future__ import annotations

import copy
import random
import threading
import time
from pathlib import Path
from typing import Any

from . import stats
from .common import (
    READ,
    WRITE,
    Context,
    OpLog,
    dir_bytes,
    metadata_files,
    new_bytes_per,
    summarize,
)

WH = "wh"
LEVELS = ("bench",)
TPL_LEVELS = ("tpl",)
CLIENTS = 4
MIX = (
    ("load_table", 0.40),
    ("load_table_304", 0.25),
    ("list_tables", 0.10),
    ("plan_table_scan", 0.10),
    ("commit_table", 0.15),
)
NOMINAL_OPS_PER_S = 25  # sizes the fixed op count: ops = seconds * this
MAX_RETRIES = 8
ROWS_PER_FILE = 100
SCHEMA = {
    "schema-id": 0,
    "type": "struct",
    "fields": [
        {"id": 1, "name": "k", "type": "long", "required": False},
        {"id": 2, "name": "v", "type": "double", "required": False},
    ],
}


def sizes(ctx: Context) -> dict[str, int]:
    if ctx.smoke:
        return {"tables": 8, "long": 30, "short": 5, "ops": 40}
    return {
        "tables": 64,
        "long": 300,
        "short": 20,
        "ops": ctx.seconds * NOMINAL_OPS_PER_S,
    }


def _entry(meta: dict[str, Any], path: str, lo: int, size: int) -> dict[str, Any]:
    from lakekeeper_spark.format.icelite import _next_seq

    return {
        "path": path,
        "file-size-in-bytes": size,
        "record-count": ROWS_PER_FILE,
        "partition": {},
        "schema-id": 0,
        "bounds": {"k": [lo, lo + ROWS_PER_FILE - 1], "v": [0.0, 1.0]},
        "sequence-number": _next_seq(meta),
    }


def _template(cat, name: str, n_snapshots: int, rng: random.Random) -> dict[str, Any]:
    """One table with ``n_snapshots`` one-file appends; returns its metadata."""
    from lakekeeper_spark.catalog import commit as commit_engine
    from lakekeeper_spark.format.icelite import SparkTable

    cat.create_table(
        WH,
        TPL_LEVELS,
        name,
        SCHEMA,
        format_version=2,
        properties={"commit.manifest.min-count-to-merge": "8"},
    )
    writer = SparkTable(None, cat, WH, TPL_LEVELS, name)
    meta = writer.metadata()
    pending: list[dict[str, Any]] = []
    for i in range(n_snapshots):
        entry = _entry(meta, f"data/f{i:05d}.parquet", i * ROWS_PER_FILE, rng.randint(4000, 9000))
        ref = meta["refs"].get("main")
        parent = writer._snapshot(meta, ref["snapshot-id"]) if ref else None
        snap = writer._snapshot_payload(meta, parent, None, "append", appended=[entry])
        updates = [
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main", "type": "branch",
             "snapshot-id": snap["snapshot-id"]},
        ]
        for u in updates:  # fold locally so the next payload sees this one
            commit_engine._apply_update(meta, u, None)
        pending.extend(updates)
        if len(pending) >= 50 or i == n_snapshots - 1:
            cat.commit_table(WH, TPL_LEVELS, name, [], pending)
            pending = []
    return writer.metadata()


class Fixture:
    """A seeded metastore + warehouse + running REST server."""

    def __init__(self, root: Path, seed: int, sz: dict[str, int]):
        from lakekeeper_spark.catalog.catalog import Catalog
        from lakekeeper_spark.catalog.metastore import Metastore, new_uuid
        from lakekeeper_spark.rest.server import RestCatalogServer

        rng = random.Random(seed)
        root.mkdir(parents=True)
        self.root = root
        self.db = str(root / "metastore.db")
        self.warehouse = root / "warehouse"
        cat = Catalog(Metastore(self.db))
        cat.create_warehouse(WH, str(self.warehouse))
        cat.create_namespace(WH, list(TPL_LEVELS))
        cat.create_namespace(WH, list(LEVELS))
        n_long = sz["long"] + rng.randint(-sz["long"] // 15, sz["long"] // 15)
        n_short = sz["short"] + rng.randint(-sz["short"] // 5, sz["short"] // 5)
        templates = {
            "long": _template(cat, "tpl_long", n_long, rng),
            "short": _template(cat, "tpl_short", n_short, rng),
        }
        self.tables: list[str] = []
        self.seeded: dict[str, int] = {}
        self.kind: dict[str, str] = {}
        kinds = ["long", "short"] * (sz["tables"] // 2)
        rng.shuffle(kinds)  # which tables are long is seeded
        for i, kind in enumerate(kinds):
            name = f"t{i:02d}"
            meta = copy.deepcopy(templates[kind])
            meta["table-uuid"] = new_uuid()
            meta["location"] = str(self.warehouse / "bench" / name)
            cat.register_table(WH, list(LEVELS), name, meta)
            self.tables.append(name)
            self.seeded[name] = len(meta["snapshots"])
            self.kind[name] = kind
        self.catalog = cat
        self.server = RestCatalogServer(cat).start()

    def close(self) -> None:
        self.server.stop()


def _op_lists(seed: int, fx: "Fixture", n_ops: int) -> list[list[tuple]]:
    """Per client: [(op, table, arg)] drawn from the seed.

    The draws are stratified so that seeds change which table and which
    op come when, not how much work a run holds: each op type gets its
    exact share of ``n_ops``, its tables are Zipf ranks at evenly spaced
    quantiles, and the ranks alternate long- and short-history tables
    (the hottest is always a long one)."""
    rng = random.Random(seed * 7919 + 1)
    longs = [t for t in fx.tables if fx.kind[t] == "long"]
    shorts = [t for t in fx.tables if fx.kind[t] == "short"]
    rng.shuffle(longs)
    rng.shuffle(shorts)
    ranked = [t for pair in zip(longs, shorts) for t in pair]
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(ranked))]
    total = sum(weights)
    cdf = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    ops: list[tuple] = []
    for name, share in MIX:
        count = round(share * n_ops)
        for i in range(count):
            u = (i + rng.random()) / count
            rank = next((r for r, c in enumerate(cdf) if u <= c), len(cdf) - 1)
            lo = rng.randint(0, 300 * ROWS_PER_FILE)
            ops.append((name, ranked[rank], (lo, lo + rng.randint(1, 40) * ROWS_PER_FILE)))
    rng.shuffle(ops)
    return [ops[c::CLIENTS] for c in range(CLIENTS)]


class Client(threading.Thread):
    def __init__(self, cid: int, url: str, ops: list[tuple], etags: dict[str, int],
                 log: OpLog, start_gate: threading.Barrier, n_tables: int, tag: str):
        super().__init__(name=f"client-{cid}", daemon=True)
        from lakekeeper_spark.rest.client import RestCatalogClient

        self.cid = cid
        self.tag = tag  # keeps data file names of a second loop distinct
        self.client = RestCatalogClient(url)
        self.ops = ops
        self.etags = dict(etags)
        self.log = log
        self.gate = start_gate
        self.n_tables = n_tables
        self.acked: list[tuple[str, int, float]] = []  # (table, snapshot id, ack time)
        self.not_modified: list[tuple[str, int, float]] = []  # (table, etag, sent)
        self.status = {"304": 0, "409": 0}
        self.retries = 0
        self.kept: list[float] = []  # plan: files kept / files total

    def run(self) -> None:
        self.gate.wait()
        for i, (op, table, arg) in enumerate(self.ops):
            kind = WRITE if op == "commit_table" else READ
            self.log.timed(kind, op, getattr(self, op), table, arg, i)

    # ---- ops ---------------------------------------------------------------
    def load_table(self, table, arg, i):
        _, etag = self.client.load_table(WH, LEVELS, table)
        self.etags[table] = etag

    def load_table_304(self, table, arg, i):
        from lakekeeper_spark.catalog.catalog import NotModified

        etag = self.etags[table]
        sent = time.perf_counter()
        try:
            _, self.etags[table] = self.client.load_table(WH, LEVELS, table, etag=etag)
        except NotModified:
            self.status["304"] += 1
            self.not_modified.append((table, etag, sent))

    def list_tables(self, table, arg, i):
        names, _ = self.client.list_tables(WH, LEVELS)
        if len(names) != self.n_tables:
            raise AssertionError(f"listTables returned {len(names)} of {self.n_tables}")

    def plan_table_scan(self, table, arg, i):
        plan = self.client.plan_table_scan(WH, LEVELS, table, stats_filter={"k": arg})
        kept = len(plan["plan-tasks"])
        total = kept + plan.get("pruned-data-files", 0)
        if total:
            self.kept.append(kept / total)

    def commit_table(self, table, arg, i):
        from lakekeeper_spark.catalog.commit import CommitConflict
        from lakekeeper_spark.format.icelite import SparkTable

        writer = SparkTable(None, self.client, WH, LEVELS, table)
        for _ in range(MAX_RETRIES + 1):
            meta = writer.metadata()
            entry = _entry(meta, f"data/{self.tag}{self.cid}-{i:05d}.parquet", 10**9 + i, 5000)
            try:
                out = writer._commit_snapshot(meta, None, "append", appended=[entry])
            except CommitConflict:
                self.status["409"] += 1
                self.retries += 1
                continue
            self.acked.append((table, out["refs"]["main"]["snapshot-id"], time.perf_counter()))
            return
        raise RuntimeError(f"commit on {table} gave up after {MAX_RETRIES} retries")


def _check(fx: Fixture, clients: list[Client], log: OpLog) -> None:
    """Reopen the metastore file fresh and check what clients were told."""
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    cat = Catalog(Metastore(fx.db))
    acked: dict[str, list[tuple[int, float]]] = {}
    for c in clients:
        for table, sid, t in c.acked:
            acked.setdefault(table, []).append((sid, t))
    base_etag: dict[str, int] = {}
    for table in fx.tables:
        meta, etag = cat.load_table(WH, list(LEVELS), table)
        ids = {s["snapshot-id"] for s in meta["snapshots"]}
        mine = acked.get(table, [])
        missing = [sid for sid, _ in mine if sid not in ids]
        if missing:
            log.fail_check(f"{table}: acknowledged snapshots missing: {missing[:5]}")
        if len(meta["snapshots"]) != fx.seeded[table] + len(mine):
            log.fail_check(
                f"{table}: {len(meta['snapshots'])} snapshots, expected"
                f" {fx.seeded[table]} seeded + {len(mine)} acknowledged"
            )
        base_etag[table] = etag - len(mine)  # every landed commit bumps the etag once
    for c in clients:
        for table, etag, sent in c.not_modified:
            landed_before = sum(1 for _, t in acked.get(table, []) if t < sent)
            if etag < base_etag[table] + landed_before:
                log.fail_check(f"{table}: 304 for etag {etag} after the table changed")


def _loop(
    fx: Fixture, seed: int, n_ops: int, etags: dict[str, int], tag: str
) -> tuple[OpLog, list[Client], float]:
    log = OpLog()
    gate = threading.Barrier(CLIENTS + 1)
    clients = [
        Client(cid, fx.server.url, ops, etags, log, gate, len(fx.tables), tag)
        for cid, ops in enumerate(_op_lists(seed, fx, n_ops))
    ]
    for c in clients:
        c.start()
    gate.wait()
    t0 = time.perf_counter()
    for c in clients:
        c.join()
    return log, clients, time.perf_counter() - t0


def _warm(fx: Fixture) -> dict[str, int]:
    """One load of every table: the etags the If-None-Match ops send,
    and a warm server-side manifest cache."""
    from lakekeeper_spark.rest.client import RestCatalogClient

    warm = RestCatalogClient(fx.server.url)
    return {t: warm.load_table(WH, LEVELS, t)[1] for t in fx.tables}


def _space_amp(fx: Fixture) -> float:
    """Bytes under the warehouse and metastore ÷ bytes of current metadata:
    each table's stored metadata blob plus the manifest and manifest-list
    files its current snapshot references (data files are not written by
    this workload, so they are in neither count)."""
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metadoc import pack_metadata
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import snapshot_manifests

    cat = Catalog(Metastore(fx.db))
    live = 0
    files: set[str] = set()
    for table in fx.tables + ["tpl_long", "tpl_short"]:
        levels = TPL_LEVELS if table.startswith("tpl_") else LEVELS
        meta, _ = cat.load_table(WH, list(levels), table)
        live += len(pack_metadata(meta))
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
        files.add(snap["manifest-list"])
        files.update(d["path"] for d in snapshot_manifests(snap))
    live += sum(Path(f).stat().st_size for f in files)
    stored = dir_bytes(fx.warehouse) + sum(dir_bytes(p) for p in fx.root.glob("metastore.db*"))
    return stats.space_amp(stored, live)


def run(ctx: Context, tracing) -> dict[str, Any]:
    sz = sizes(ctx)
    fx = Fixture(ctx.root / "catalog", ctx.seed, sz)
    try:
        etags = _warm(fx)
        setup_s = ctx.since_start()
        log, clients, wall = _loop(fx, ctx.seed, sz["ops"], etags, "u")
        result: dict[str, Any] = {"setup_s": setup_s, "log": log}
        checked = clients
        if tracing is not None:
            # the same op lists again, traced; the tables have moved on by
            # the earlier loop's commits, a few percent of their history
            etags = _warm(fx)
            archived = metadata_files(fx.warehouse)
            with tracing() as tracer:
                tlog, tclients, twall = _loop(fx, ctx.seed, sz["ops"], etags, "t")
            landed = sum(len(c.acked) for c in tclients)
            archived_after = metadata_files(fx.warehouse)
            # an untraced loop after the traced one: the overhead compares
            # against both sides of it
            alog, aclients, awall = _loop(fx, ctx.seed, sz["ops"], _warm(fx), "a")
            result["untraced_after"] = summarize(alog, awall)
            log.absorb(tlog, "traced loop")
            log.absorb(alog, "second untraced loop")
            result["traced"] = summarize(tlog, twall)
            result["tracer"] = tracer
            result["layer"] = {
                **_layer_counts(tclients, tlog),
                "catalog.metadata_files_bytes": new_bytes_per(archived, archived_after, landed),
            }
            checked = clients + tclients + aclients
        _check(fx, checked, log)
        result["e2e"] = {**summarize(log, wall), "space_amp": _space_amp(fx)}
        result["details"] = {
            "commit_retries": sum(c.retries for c in clients),
            "status_304": sum(c.status["304"] for c in clients),
        }
        return result
    finally:
        fx.close()


def _layer_counts(clients: list[Client], log: OpLog) -> dict[str, float]:
    kept = [k for c in clients for k in c.kept]
    errors = [o.info.get("error", "") for o in log.ops if not o.ok]
    return {
        "rest.status_304": sum(c.status["304"] for c in clients),
        "rest.status_409": sum(c.status["409"] for c in clients),
        "rest.status_5xx": sum(1 for e in errors if "InternalServerError" in e),
        "format.icelite.plan.files_kept_ratio": sum(kept) / len(kept) if kept else 0.0,
    }
