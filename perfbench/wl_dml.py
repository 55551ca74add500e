"""table_dml: the icelite DML cycle Spark users drive through the catalog.

Each cycle builds a fresh format-v3 table from the generated ``lineitem``
(60k rows at sf0.01), so table state does not grow with run length, and
times 13 ops on it:

  6 appends of seeded new orders; a stats-filtered scan and a full
  aggregate scan; a merge-on-read delete_where and update_where; a
  copy-on-write merge on (l_orderkey, l_linenumber); rewrite_data_files;
  expire_snapshots.

A warm-up cycle on a table a tenth the size runs first: the same
statements, so the same code paths are compiled and loaded. (Measured
cold instead, the cycle took about as long as warm-up and cycle
together.) After each cycle the final table is compared with DuckDB
applying the same statements to the same parquet inputs.
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Any

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import datagen, stats
from .common import READ, WRITE, Context, OpLog, dir_bytes, metadata_files, new_bytes_per, summarize
from .sparkstats import SparkOps, stop_spark

WH = "wh"
LEVELS = ("bench",)
CYCLE_NOMINAL_S = 12  # sizes the fixed cycle count: cycles = seconds / this
N_APPENDS = 6
KEY = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
FINGERPRINT = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(l_orderkey) AS ok, SUM(l_partkey) AS pk, SUM(l_suppkey) AS sk,
       SUM(l_linenumber) AS ln,
       SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS price,
       SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc,
       SUM(CAST(ROUND(l_tax * 100) AS BIGINT)) AS tax,
       SUM(CAST(year(l_shipdate) * 10000 + month(l_shipdate) * 100
                + day(l_shipdate) AS BIGINT)) AS ship
FROM {table} GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def sizes(ctx: Context) -> dict[str, Any]:
    if ctx.smoke:
        return {"sf": 0.001, "cycles": 1, "append_orders": 20, "merge_rows": 40}
    return {
        "sf": 0.01,  # 60k lineitem rows
        "cycles": max(1, round(ctx.seconds / CYCLE_NOMINAL_S)),
        "append_orders": 200,  # ~800 rows per append
        "merge_rows": 2000,
    }


class CycleInputs:
    """One cycle's seeded statements and their parquet inputs."""

    def __init__(
        self, out: Path, base: Path, rng: np.random.Generator, sz: dict[str, Any], shrink: int = 1
    ):
        out.mkdir(parents=True)
        self.base = str(base)
        src = pq.read_table(base, columns=["l_orderkey"]).column(0).to_numpy()
        n_ord = int(src.max()) + 1
        n_part, n_supp = max(int(200_000 * sz["sf"]), 10), max(int(10_000 * sz["sf"]), 5)
        per = max(sz["append_orders"] // shrink, 2)
        self.appends = []
        for i in range(N_APPENDS):
            keys = np.arange(n_ord + i * per, n_ord + (i + 1) * per, dtype=np.int64)
            path = out / f"append{i}.parquet"
            pq.write_table(
                datagen.lineitem(rng, keys, datagen.order_dates(rng, per), n_part, n_supp), path
            )
            self.appends.append(str(path))
        top = n_ord + N_APPENDS * per
        lo = int(rng.integers(0, max(n_ord - n_ord // 20, 1)))
        self.stats_range = (lo, lo + max(n_ord // 50, 1))
        r = int(rng.integers(0, 97))
        self.delete_cond = f"l_orderkey % 97 = {r} AND l_quantity < 25"
        self.update_cond = f"l_orderkey % 89 = {int(rng.integers(0, 89))}"
        self.update_set = {"l_tax": "0.0"}
        # merge source: half existing keys (line 1 of existing orders),
        # half new orders beyond every append; keys are unique
        m = max(sz["merge_rows"] // shrink, 4)
        old = rng.choice(n_ord, m // 2, replace=False).astype(np.int64)
        new = np.arange(top, top + m - m // 2, dtype=np.int64)
        keys = np.concatenate([old, new])
        tbl = datagen.lineitem(rng, keys, datagen.order_dates(rng, len(keys)), n_part, n_supp)
        first = tbl.filter(pc.equal(tbl.column("l_linenumber"), 1))
        self.merge = str(out / "merge.parquet")
        pq.write_table(first, self.merge)
        self.merge_set = {"l_quantity": "s.l_quantity", "l_extendedprice": "s.l_extendedprice"}

    def duckdb_fingerprint(self) -> list[tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE t AS SELECT * FROM '{self.base}'")
            for path in self.appends:
                con.execute(f"INSERT INTO t SELECT * FROM '{path}'")
            con.execute(f"DELETE FROM t WHERE {self.delete_cond}")
            sets = ", ".join(f"{k} = {v}" for k, v in self.update_set.items())
            con.execute(f"UPDATE t SET {sets} WHERE {self.update_cond}")
            con.execute(f"CREATE TABLE s AS SELECT * FROM '{self.merge}'")
            on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
            new = con.execute(f"SELECT s.* FROM s ANTI JOIN t ON {on}").arrow()
            msets = ", ".join(f"{k} = {v}" for k, v in self.merge_set.items())
            con.execute(f"UPDATE t SET {msets} FROM s WHERE {on}")
            con.register("new_rows", new)
            con.execute("INSERT INTO t SELECT * FROM new_rows")
            return [tuple(r) for r in con.execute(FINGERPRINT.format(table="t")).fetchall()]
        finally:
            con.close()


class Cycle:
    def __init__(self, spark, catalog, sops: SparkOps, name: str, inputs: CycleInputs):
        self.spark, self.catalog, self.sops, self.name, self.inp = spark, catalog, sops, name, inputs

    def build(self):
        from lakekeeper_spark.format.icelite import SparkTable
        from lakekeeper_spark.format.types import struct_to_schema

        src = self.spark.read.parquet(self.inp.base)
        self.catalog.create_table(WH, LEVELS, self.name, struct_to_schema(src.schema), format_version=3)
        self.table = SparkTable(self.spark, self.catalog, WH, LEVELS, self.name)
        with self.sops.op("build"):
            self.table.append(src)

    def ops(self):
        """(kind, op name, callable) in cycle order."""
        from pyspark.sql import functions as F

        t, spark, inp = self.table, self.spark, self.inp
        lo, hi = inp.stats_range

        def stats_scan():
            return (
                t.scan(stats_filter={"l_orderkey": (lo, hi)})
                .filter(F.col("l_orderkey").between(lo, hi))
                .agg(F.count(F.lit(1)), F.sum("l_quantity"))
                .collect()
            )

        def full_scan():
            return (
                t.scan()
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.count(F.lit(1)), F.sum("l_extendedprice"))
                .collect()
            )

        out = [
            (WRITE, "append", lambda p=p: t.append(spark.read.parquet(p))) for p in inp.appends
        ]
        out += [
            (READ, "scan_stats", stats_scan),
            (READ, "scan_full", full_scan),
            (WRITE, "delete_where", lambda: t.delete_where(inp.delete_cond, mode="merge-on-read")),
            (
                WRITE,
                "update_where",
                lambda: t.update_where(inp.update_cond, inp.update_set, mode="merge-on-read"),
            ),
            (
                WRITE,
                "merge",
                lambda: t.merge(spark.read.parquet(inp.merge), KEY, matched_update=inp.merge_set),
            ),
            (WRITE, "rewrite_data_files", lambda: t.rewrite_data_files()),
            (WRITE, "expire_snapshots", lambda: t.expire_snapshots(int(time.time() * 1000), 1)),
        ]
        return out

    def run(self, log: OpLog, probe: dict[str, Any] | None = None, tracer=None) -> None:
        """Every op in order. With ``probe`` (traced runs), also count the
        data and delete files each op adds, and how many files the stats
        filter keeps, outside the trace."""
        for kind, name, fn in self.ops():
            # the icelite op a scan runs is SparkTable.scan
            with self.sops.op("scan" if name.startswith("scan") else name):
                op, _ = log.timed(kind, name, fn)
            if probe is not None:
                with tracer.paused():
                    self._probe(probe, name)
            if not op.ok:
                log.fail_check(f"{self.name}: {name} failed, cycle abandoned")
                return

    def _probe(self, probe: dict[str, Any], name: str) -> None:
        from lakekeeper_spark.format.icelite import plan_table_scan

        if name == "scan_stats":
            plan = plan_table_scan(self.table.metadata(), stats_filter={"l_orderkey": self.inp.stats_range})
            kept = len(plan["plan-tasks"])
            probe.setdefault("kept", []).append(kept / (kept + plan.get("pruned-data-files", 0)))
        self._count_files(probe)

    def _count_files(self, files: dict[str, Any]) -> None:
        from lakekeeper_spark.format.icelite import snapshot_entries

        meta = self.table.metadata()
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == meta.get("current-snapshot-id")),
            None,
        )
        seen = files.setdefault("seen", set())
        for e in snapshot_entries(snap):
            if e["path"] in seen:
                continue
            seen.add(e["path"])
            key = "data" if e.get("content", "data") == "data" else "deletes"
            files[key] = files.get(key, 0) + 1
            files["bytes"] = files.get("bytes", 0) + e.get("file-size-in-bytes", 0)

    def check(self, log: OpLog) -> None:
        from lakekeeper_spark.catalog.catalog import Catalog
        from lakekeeper_spark.catalog.metastore import Metastore
        from lakekeeper_spark.format.icelite import SparkTable

        # a fresh catalog over the same metastore file reads what was committed
        fresh = Catalog(Metastore(self.catalog.store.path))
        SparkTable(self.spark, fresh, WH, LEVELS, self.name).scan().createOrReplaceTempView(
            "bench_final"
        )
        got = [tuple(r) for r in self.spark.sql(FINGERPRINT.format(table="bench_final")).collect()]
        want = self.inp.duckdb_fingerprint()
        if got != want:
            log.fail_check(f"{self.name}: final table differs from DuckDB: {got[:2]} vs {want[:2]}")


def _space_amp(root: Path, catalog, tables: list[str]) -> float:
    """Bytes under the warehouse and metastore ÷ bytes of live data and
    current metadata (current snapshot's data, delete, manifest and
    manifest-list files plus the stored metadata blobs)."""
    from lakekeeper_spark.catalog.metadoc import pack_metadata
    from lakekeeper_spark.format.icelite import snapshot_entries, snapshot_manifests

    live = 0
    for name in tables:
        meta, _ = catalog.load_table(WH, list(LEVELS), name)
        live += len(pack_metadata(meta))
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
        live += sum(e.get("file-size-in-bytes", 0) for e in snapshot_entries(snap))
        paths = {d["path"] for d in snapshot_manifests(snap)} | {snap["manifest-list"]}
        live += sum(Path(p).stat().st_size for p in paths)
    stored = dir_bytes(root / "warehouse") + sum(dir_bytes(p) for p in root.glob("metastore.db*"))
    return stats.space_amp(stored, live)


def run(ctx: Context, tracing) -> dict[str, Any]:
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.session import get_session

    sz = sizes(ctx)
    rng = np.random.default_rng(ctx.seed)
    data = ctx.root / "data"
    datagen.write_tables(data, ctx.seed, sz["sf"], which="tpch")
    spark = get_session("perfbench-table_dml")
    try:
        catalog = Catalog(Metastore(str(ctx.root / "metastore.db")))
        catalog.create_warehouse(WH, str(ctx.root / "warehouse"))
        catalog.create_namespace(WH, list(LEVELS))
        base = data / "lineitem.parquet"
        small = data / "lineitem_small.parquet"
        full = pq.read_table(base)
        pq.write_table(full.slice(0, full.num_rows // 10), small)
        sops = SparkOps(spark, collect=False)
        log = OpLog()
        builds: list[float] = []

        def cycle(name: str, src: Path = base, shrink: int = 1) -> Cycle:
            c = Cycle(spark, catalog, sops, name, CycleInputs(ctx.root / name, src, rng, sz, shrink))
            t0 = time.perf_counter()
            c.build()
            builds.append(time.perf_counter() - t0)
            return c

        warm = cycle("warmup", small, 10)
        warm.run(OpLog())
        tables = [warm.name]
        first_op = None
        wall = 0.0
        for i in range(sz["cycles"]):
            c = cycle(f"cycle{i}")
            first_op = first_op or time.time()
            t0 = time.perf_counter()
            c.run(log)
            wall += time.perf_counter() - t0
            c.check(log)
            tables.append(c.name)
        result: dict[str, Any] = {
            "log": log,
            "setup_s": first_op - ctx.process_start,
            "details": {"table_build_s": builds},
        }
        if tracing is not None:
            # traced cycles sit between two untraced ones, so the overhead
            # compares against both sides of the warm-up they add
            after = OpLog()
            tlog = OpLog()
            probe: dict[str, Any] = {}
            archived = metadata_files(ctx.root / "warehouse")
            traced = [cycle(f"traced{i}") for i in range(sz["cycles"])]
            sops.collect = True
            twall = 0.0
            with tracing() as tracer:
                for c in traced:
                    t0 = time.perf_counter()
                    c.run(tlog, probe, tracer)
                    twall += time.perf_counter() - t0
            sops.collect = False
            archived_bytes = new_bytes_per(archived, metadata_files(ctx.root / "warehouse"), 1)
            awall = 0.0
            for i in range(sz["cycles"]):
                c = cycle(f"after{i}")
                t0 = time.perf_counter()
                c.run(after)
                awall += time.perf_counter() - t0
                tables.append(c.name)
            for c in traced:
                c.check(log)
                tables.append(c.name)
            log.absorb(tlog, "traced cycle")
            log.absorb(after, "second untraced cycle")
            from .layers import spark_metrics

            layer, counts = spark_metrics(sops.per_op)
            landed = [s for s in tracer.named("catalog.commit_transaction") if "error" not in s.attrs]
            layer.update(
                {
                    "format.icelite.files_written": probe.get("data", 0),
                    "format.icelite.delete_files_written": probe.get("deletes", 0),
                    "format.icelite.bytes_written": probe.get("bytes", 0),
                    "format.icelite.plan.files_kept_ratio": stats.median(probe["kept"]),
                    "catalog.metadata_files_bytes": archived_bytes / max(len(landed), 1),
                }
            )
            result.update(
                tracer=tracer,
                traced=summarize(tlog, twall),
                untraced_after=summarize(after, awall),
                layer=layer,
                spark_counts=counts,
            )
        result["e2e"] = {**summarize(log, wall), "space_amp": _space_amp(ctx.root, catalog, tables)}
        return result
    finally:
        stop_spark(spark)
