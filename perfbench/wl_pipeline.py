"""llm_pipeline: registry operators through Spark's noop sink.

One HEADLINE query per operator family runs on generated inputs, with
no catalog access: the control workload for catalog and table-format
changes. A warm-up pass collects every query's result (kept for the
oracle check); the measured passes then build each query (``spark_fn``:
input reads, eager driver jobs, the plan) and run it into the noop sink.
After timing, each warm-up result is compared with the query's DuckDB
oracle with ``tools/compare.py``'s normalisation.
"""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path
from typing import Any

from . import datagen, stats
from .common import READ, Context, Op, OpLog, dir_bytes
from .sparkstats import SparkOps, stop_spark

# short name -> registry name. Left out for the time budget (each costs
# 4-7 s of warm-up and 1-4 s per pass): q05/q18 (more TPC-H joins), d08,
# d09, s05, g01, h08; d02 and t18 also because their DuckDB oracles take
# 130 s and 15 s on these inputs (d02 emits ~930k pairs).
QUERY_NAMES = {
    "q01": "q01_pricing_summary",
    "w01": "w01_top_orders_per_customer",
    "e03": "e03_sessionization",
    "t11": "t11_tfidf_top_terms",
    "p03": "p03_decontamination",
}
QUERIES = list(QUERY_NAMES)
PASS_NOMINAL_S = 10  # sizes the fixed pass count: passes = seconds / this


def sizes(ctx: Context) -> dict[str, Any]:
    if ctx.smoke:
        return {"sf": 0.001, "passes": 1}
    return {"sf": 0.1, "passes": max(1, round(ctx.seconds / PASS_NOMINAL_S))}


def _compare_module():
    path = Path(__file__).resolve().parent.parent / "tools" / "compare.py"
    spec = importlib.util.spec_from_file_location("perfbench_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def same_result(compare, got, want) -> str | None:
    """None when equal under compare.py's rules, else what differs."""
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    a, b = compare.normalize(got), compare.normalize(want)
    for c in a.columns:
        col = b[c]
        try:
            col = col.astype(a[c].dtype)
        except (TypeError, ValueError):
            pass
        if not a[c].equals(col):
            return f"values differ in column {c}"
    return None


def _pass(spark, registry, data: str, log: OpLog, sops: SparkOps, phases: dict) -> None:
    for short in QUERIES:
        q = registry[QUERY_NAMES[short]]
        op = Op(READ, short, time.perf_counter(), 0.0)
        try:
            with sops.op(short):
                df = q.spark_fn(spark, data)
                built = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            op.ok = False
            op.info["error"] = f"{type(e).__name__}: {e}"[:300]
            built = time.perf_counter()
        op.end = time.perf_counter()
        op.info["build_ms"] = (built - op.start) * 1000.0
        op.info["sink_ms"] = (op.end - built) * 1000.0
        log.add(op)
        row = phases.setdefault(short, {"plan_build_ms": [], "exec_ms": []})
        row["plan_build_ms"].append(op.info["build_ms"])
        row["exec_ms"].append(op.info["sink_ms"])


def summarize_pipeline(log: OpLog, wall_s: float) -> dict[str, float]:
    """ops_per_s; read = the build phase, write = the noop-sink phase;
    op_geomean over per-query medians of the whole op."""
    done = [o for o in log.ops if o.ok]
    per_query: dict[str, list[float]] = {}
    for o in done:
        per_query.setdefault(o.name, []).append(o.ms)
    out = {
        "ops_per_s": len(done) / wall_s,
        "failed_ratio": log.failed / max(log.attempted, 1),
    }
    if done:
        out["read_p50_ms"] = stats.median([o.info["build_ms"] for o in done])
        out["write_p50_ms"] = stats.median([o.info["sink_ms"] for o in done])
        out["op_geomean_ms"] = stats.geomean(stats.median(v) for v in per_query.values())
    return out


def run(ctx: Context, tracing) -> dict[str, Any]:
    from lakekeeper_spark.registry import load_registry
    from lakekeeper_spark.session import get_session

    sz = sizes(ctx)
    data = ctx.root / "data"
    datagen.write_tables(data, ctx.seed, sz["sf"], which="all")
    input_bytes = dir_bytes(data)
    registry = load_registry()
    spark = get_session("perfbench-llm_pipeline")
    try:
        sops = SparkOps(spark, collect=False)
        results = {}
        warmup_ms = {}
        for short in QUERIES:  # warm-up pass; results feed the oracle check
            t0 = time.perf_counter()
            with sops.op(short):
                results[short] = registry[QUERY_NAMES[short]].spark_fn(spark, str(data)).toPandas()
            warmup_ms[short] = (time.perf_counter() - t0) * 1000.0
        first_op = time.time()
        log = OpLog()
        phases: dict[str, dict[str, list[float]]] = {}
        t0 = time.perf_counter()
        for _ in range(sz["passes"]):
            _pass(spark, registry, str(data), log, sops, phases)
        wall = time.perf_counter() - t0
        result: dict[str, Any] = {
            "log": log,
            "setup_s": first_op - ctx.process_start,
            "details": {"warmup_ms": warmup_ms},
        }
        if tracing is not None:
            tlog = OpLog()
            tphases: dict[str, dict[str, list[float]]] = {}
            sops.collect = True
            with tracing() as tracer:
                t0 = time.perf_counter()
                for _ in range(sz["passes"]):
                    _pass(spark, registry, str(data), tlog, sops, tphases)
                twall = time.perf_counter() - t0
            sops.collect = False
            # an untraced pass after the traced one: the overhead compares
            # against both sides of it
            alog = OpLog()
            t0 = time.perf_counter()
            for _ in range(sz["passes"]):
                _pass(spark, registry, str(data), alog, sops, {})
            result["untraced_after"] = summarize_pipeline(alog, time.perf_counter() - t0)
            log.absorb(tlog, "traced pass")
            log.absorb(alog, "second untraced pass")
            from .layers import spark_metrics

            layer, counts = spark_metrics(sops.per_op)
            for short, row in tphases.items():
                for k, vals in row.items():
                    layer[f"queries.{short}.{k}"] = stats.median(vals)
            result.update(
                tracer=tracer,
                traced=summarize_pipeline(tlog, twall),
                layer=layer,
                spark_counts=counts,
            )
        # what the run leaves on disk beyond its inputs: files written under
        # the data and temp directories (Spark's own shuffle scratch excluded)
        space = stats.space_amp(dir_bytes(data) + dir_bytes(ctx.root / "tmp"), input_bytes)
        compare = _compare_module()
        con = compare.duck_connection(str(data))
        try:
            for short, got in results.items():
                oracle = registry[QUERY_NAMES[short]].oracle
                diff = same_result(compare, got, con.execute(oracle).df()) if oracle else None
                if diff:
                    log.fail_check(f"{short}: {diff}")
        finally:
            con.close()
        result["e2e"] = {**summarize_pipeline(log, wall), "space_amp": space}
        return result
    finally:
        stop_spark(spark)
