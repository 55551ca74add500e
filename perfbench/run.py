#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_rest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` measures them, then repeats the measured phase
with spans around every layer boundary and prints the per-layer metrics
(the spans are written to ``.perfbench/trace-<workload>-<seed>.json``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every correctness check passed. ``--smoke`` shrinks every
input to a few seconds of work (used by perfbench/tests).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
WORKLOADS = {
    "catalog_rest": "perfbench.wl_catalog",
    "table_dml": "perfbench.wl_dml",
    "llm_pipeline": "perfbench.wl_pipeline",
}
END_TO_END = (  # name, unit
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("read_p50_ms", "ms"),
    ("write_p50_ms", "ms"),
    ("op_geomean_ms", "ms"),
    ("failed_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("space_amp", "ratio"),
)
# failed_ratio is exactly failed/attempted of the result line, and 0 on a
# good run, so the result's metrics leave it out; it is printed above it
GATED = tuple(m for m in END_TO_END if m[0] != "failed_ratio")
DRIVER_MEM = "2g"  # lakekeeper_spark.session defaults to 16g, more than this host has


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment(root: Path) -> dict[str, str]:
    """Per-run temp root for every scratch directory; pinned Spark sizing."""
    tmp = root / "tmp"
    local = root / "spark-local"
    conf = root / "spark-conf"
    for d in (tmp, local, conf):
        d.mkdir(parents=True)
    # a fixed heap (initial = max) so the JVM's resident size does not
    # depend on when G1 decides to grow the heap
    (conf / "spark-defaults.conf").write_text(
        f"spark.driver.extraJavaOptions -Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}\n"
    )
    env = {
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_CONF_DIR": str(conf),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the program too
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(CHECKOUT), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(CHECKOUT))
    try:
        import lakekeeper_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    from perfbench import hostnoise, layers
    from perfbench.common import Context, tails

    out_dir = CHECKOUT / ".perfbench"
    root = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    env = pin_environment(root)
    cwd = os.getcwd()
    os.chdir(root)  # stray relative paths (spark-warehouse, derby.log) land here
    ctx = Context(args.seed, args.seconds, root, smoke=args.smoke, process_start=t_proc)
    module = importlib.import_module(WORKLOADS[args.workload])
    try:
        with hostnoise.TreeSampler() as sampler:
            res = module.run(ctx, layers.tracing if args.trace else None)
    finally:
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)

    log = res["log"]
    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["setup_s"]
    e2e["peak_rss_mb"] = sampler.peak_rss / 2**20
    print(f"workload {args.workload} seed {args.seed} env {json.dumps(env, sort_keys=True)}")
    for name, unit in END_TO_END:
        if name in e2e:
            print(f"{name} {e2e[name]:.6g} {unit}")
    print("host " + json.dumps(sampler.counters()))
    print("ops " + json.dumps(tails(log)))
    for msg in log.checks_failed[:20]:
        print(f"check failed: {msg}")
    for o in [o for o in log.ops if not o.ok][:5]:
        print(f"op failed: {o.name}: {o.info.get('error')}")
    if "details" in res:
        print("details " + json.dumps(res["details"]))
    correct = not log.checks_failed and log.failed == 0

    if args.trace:
        names = layers.metric_names()
        per_layer = {n: 0.0 for n, _ in names}
        tracer = res["tracer"]
        got, detail = layers.span_metrics(tracer)
        per_layer.update(got)
        per_layer.update(res.get("layer", {}))
        per_layer.update(sampler.counters())
        for m in layers.OVERHEAD:
            if m in res["traced"] and m in e2e:
                # untraced reference: the phases run before and after the traced one
                base = (e2e[m] + res["untraced_after"][m]) / 2
                per_layer[f"trace.overhead.{m}"] = res["traced"][m] - base
        unknown = set(per_layer) - {n for n, _ in names}
        if unknown:
            raise KeyError(f"per-layer metrics not declared: {sorted(unknown)}")
        print("traced " + json.dumps(res["traced"]))
        print("untraced_after " + json.dumps(res["untraced_after"]))
        print("rest_tails " + json.dumps(detail))
        if "spark_counts" in res:
            print("spark_counts " + json.dumps(res["spark_counts"]))
        trace_file = out_dir / f"trace-{args.workload}-{args.seed}.json"
        trace_file.write_text(json.dumps({"spans": tracer.dump(), "per_layer": per_layer}))
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in names}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in GATED}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": log.attempted,
                "failed": log.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
