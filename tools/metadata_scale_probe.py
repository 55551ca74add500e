"""Commit-cost scale probe: is commit latency O(delta) or O(table)?

Builds one icelite table with N single-file appends and reports, per
decile of the history: mean wall-clock per commit, the catalog-side
commit CPU (``time.thread_time`` around ``Catalog.commit_table``, which
runs in the calling thread), the stored metadata blob size, and
manifest files written. Under the pre-round-16 design both the blob and
the per-commit Avro re-encode grew linearly with the file count
(O(commits x files) lifetime cost); with incremental manifests the
per-commit time and write amplification should stay FLAT and the blob
should grow only by one descriptor per commit (plus the bounded
manifest-merge rewrites). The catalog commit CPU should stay flat too:
the commit engine shares the carried history instead of copying it,
and pooling encodes only the new snapshot's descriptors; what still
grows is parsing and writing the stored pooled text.

Usage: python tools/metadata_scale_probe.py [n_commits=120]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(n: int = 120) -> None:
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metadoc import pack_metadata
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable, snapshot_manifests
    from lakekeeper_spark.session import get_session

    spark = get_session("scaleprobe", master="local[8]")
    tmp = tempfile.mkdtemp(prefix="lkspark_probe_")
    cat = Catalog(Metastore(f"{tmp}/m.db"))
    cat.create_warehouse("wh", f"{tmp}/wh")
    cat.create_namespace("wh", ["p"])
    cat.create_table(
        "wh", ["p"], "t",
        {"schema-id": 0, "fields": [
            {"id": 1, "name": "k", "type": "long", "required": False}]},
    )
    commit_cpu: list[float] = []
    catalog_commit = cat.commit_table

    def timed_commit(*args, **kwargs):
        t0 = time.thread_time()
        try:
            return catalog_commit(*args, **kwargs)
        finally:
            commit_cpu.append(time.thread_time() - t0)

    cat.commit_table = timed_commit
    t = SparkTable(spark, cat, "wh", ["p"], "t")
    frames = [
        spark.createDataFrame([(i,)], "k long").coalesce(1) for i in range(4)
    ]
    times: list[float] = []
    blob: list[int] = []
    for i in range(n):
        df = frames[i % 4]
        t0 = time.time()
        t.append(df)
        times.append(time.time() - t0)
        if (i + 1) % max(n // 10, 1) == 0:
            meta = t.metadata()
            blob.append(len(pack_metadata(meta)))  # what the metastore stores
    meta = t.metadata()
    head = meta["snapshots"][-1]

    def by_decile(xs: list[float], scale: float, digits: int) -> list[float]:
        d = max(len(xs) // 10, 1)
        return [
            round(scale * sum(xs[i : i + d]) / d, digits)
            for i in range(0, len(xs) - d + 1, d)
        ]

    report = {
        "n_commits": n,
        "per_commit_sec_by_decile": by_decile(times, 1, 3),
        "catalog_commit_cpu_ms_by_decile": by_decile(commit_cpu, 1000, 2),
        "blob_bytes_by_decile": blob,
        "final_live_manifests": len(snapshot_manifests(head)),
        "final_blob_bytes": len(pack_metadata(meta)),
        "final_unpacked_bytes": len(json.dumps(meta)),
        "total_manifest_files_written": len(
            list(Path(meta["location"], "metadata").glob("mf-*.avro"))
        ),
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 120)
