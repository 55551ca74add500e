"""Catalog/table-format lifecycle exercised as a registry query.

The catalog layer (lakekeeper_spark.catalog) and icelite table format
(lakekeeper_spark.format.icelite) are pytest-covered in depth; this query
drives one full lifecycle through a real SparkSession so the surface is
also a first-class row in the driver's correctness gate:

  create warehouse -> namespace -> typed table -> two appends (snapshots)
  -> DELETE FROM (copy-on-write) -> rewrite_data_files compaction ->
  time-travel scan of snapshot 1 vs current.

Returns one row per lifecycle checkpoint with deterministic columns
(counts and snapshot ordinals — never uuids/timestamps), so repeated runs
hash identically; the DuckDB oracle states the expected checkpoint values
computed from the same source parquet.

Reference parity: test_spark.py:44-68 (create+insert), 503-517 (insert/
select), 1330 (DELETE FROM), 710-738 (rewrite_data_files), 1305-1312
(time travel). Citations into /root/reference.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import register
from ..functions.localframe import local_df

_ROWS = 1000  # lineitem sample size (deterministic: lowest orderkeys)


@register(
    "c01_catalog_lifecycle",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
)
SELECT * FROM (
  SELECT 'rows_after_append1' AS checkpoint, COUNT(*) AS value FROM src
  UNION ALL
  SELECT 'rows_after_append2', 2*COUNT(*) FROM src
  UNION ALL
  SELECT 'rows_after_delete',
         2*COUNT(*) - 2*(SELECT COUNT(*) FROM src WHERE l_quantity < 10)
    FROM src
  UNION ALL
  SELECT 'rows_after_compaction',
         2*COUNT(*) - 2*(SELECT COUNT(*) FROM src WHERE l_quantity < 10)
    FROM src
  UNION ALL
  SELECT 'time_travel_snapshot1', COUNT(*) FROM src
  UNION ALL
  SELECT 'n_snapshots', 4
  UNION ALL
  SELECT 'files_after_compaction', 1
  UNION ALL
  SELECT 'cached_scan_stale',
         2*COUNT(*) - 2*(SELECT COUNT(*) FROM src WHERE l_quantity < 10)
    FROM src
  UNION ALL
  SELECT 'cached_scan_after_refresh',
         3*COUNT(*) - 2*(SELECT COUNT(*) FROM src WHERE l_quantity < 10)
    FROM src
) ORDER BY checkpoint
""",
    description="Catalog + icelite lifecycle: create/append/delete/compact/"
    "time-travel, checkpoint counts vs oracle expectations.",
    tags=("catalog", "icelite", "lifecycle"),
)
def c01_catalog_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_cat_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    cat.create_table("wh", ["bench"], "li", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["bench"], "li")

    t.append(src)
    snap1 = t.metadata()["current-snapshot-id"]
    rows1 = t.scan().count()
    t.append(src)
    rows2 = t.scan().count()
    t.delete_where("l_quantity < 10")
    rows3 = t.scan().count()
    t.rewrite_data_files(target_files=1)
    rows4 = t.scan().count()
    tt = t.scan(snapshot_id=snap1).count()
    n_snapshots = len(t.metadata()["snapshots"])  # metadata, no job
    n_files = t.files_count()  # metadata, no job

    # REFRESH TABLE lifecycle (reference test_spark.py:1222): a second
    # handle caches metadata, misses a concurrent append until refresh().
    t2 = SparkTable(spark, cat, "wh", ["bench"], "li")
    t2.scan(use_cache=True).count()  # populate the cache
    t.append(src)  # concurrent writer
    stale = t2.scan(use_cache=True).count()  # cache hides the append
    t2.refresh()
    fresh = t2.scan(use_cache=True).count()  # refresh reveals it

    rows = [
        ("rows_after_append1", rows1),
        ("rows_after_append2", rows2),
        ("rows_after_delete", rows3),
        ("rows_after_compaction", rows4),
        ("time_travel_snapshot1", tt),
        ("n_snapshots", n_snapshots),
        ("files_after_compaction", n_files),
        ("cached_scan_stale", stale),
        ("cached_scan_after_refresh", fresh),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c02: change-event log rollup (CloudEvents surface as a correctness row)
# --------------------------------------------------------------------------
@register(
    "c02_change_events",
    oracle="""
SELECT * FROM (VALUES
  ('commit-table',      CAST(3 AS BIGINT)),
  ('create-namespace',  2),
  ('create-table',      1),
  ('create-view',       2),
  ('create-warehouse',  1),
  ('drop-table',        1),
  ('drop-view',         1),
  ('rename-table',      1),
  ('undrop-tabular',    1)
) AS t(event_type, n_events)
""",
    description="Change-event log (reference CloudEvents surface, "
    "service/events/types/): a fixed catalog-op sequence must emit exactly "
    "one event row per mutation; the rollup per event type is the "
    "engine-side analytics view of the log (at scale the log is an "
    "append-only table and this is a plain groupBy).",
    tags=("catalog", "events", "lifecycle"),
)
def c02_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.events import FilePublisher
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_ev_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    # the rollup reads from a REAL sink boundary: every post-commit
    # CloudEvents envelope crosses into a JSONL file (the NATS-backend
    # serialization, catalog/events.py FilePublisher) and the analytics
    # view is computed from what the sink received — not from the
    # in-transaction events table
    sink_path = f"{tmp}/events.jsonl"
    cat.store.publishers.append(FilePublisher(sink_path))
    cat.create_warehouse("wh", f"{tmp}/warehouse")        # create-warehouse
    cat.create_namespace("wh", ["a"])                      # create-namespace
    cat.create_namespace("wh", ["a", "b"])                 # create-namespace
    src = local_df(spark, [(1, "x")], "id int, s string")
    cat.create_table("wh", ["a"], "t1", struct_to_schema(src.schema))  # create-table
    t = SparkTable(spark, cat, "wh", ["a"], "t1")
    t.append(src)                                          # commit-table
    t.append(src)                                          # commit-table
    cat.commit_table(                                      # commit-table
        "wh", ["a"], "t1", [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    cat.rename_table("wh", ["a"], "t1", ["a"], "t2")       # rename-table
    cat.create_view("wh", ["a"], "v", "SELECT 1 AS x")     # create-view
    cat.create_view("wh", ["a"], "v", "SELECT 2 AS x", replace=True)  # create-view
    cat.drop_view("wh", ["a"], "v")                        # drop-view
    cat.drop_table("wh", ["a"], "t2")                      # drop-table
    cat.undrop_table("wh", ["a"], "t2")                    # undrop-tabular
    import json as _json

    with open(sink_path, encoding="utf-8") as fh:
        rows = [
            (_json.loads(line)["type"].removeprefix("lakekeeper-spark."),)
            for line in fh
        ]
    return (
        local_df(spark, rows, "event_type string")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# --------------------------------------------------------------------------
# c03: merge-on-read row-level deletes + snapshot management lifecycle
# --------------------------------------------------------------------------
@register(
    "c03_mor_wap_lifecycle",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
k AS (SELECT COUNT(*) AS kept FROM src WHERE l_quantity >= 10),
n AS (SELECT COUNT(*) AS total FROM src)
SELECT * FROM (
  SELECT 'rows_after_append' AS checkpoint, total AS value FROM n
  UNION ALL SELECT 'rows_after_mor_delete', kept FROM k
  UNION ALL SELECT 'data_files_delta', 0
  UNION ALL SELECT 'has_delete_files', 1
  UNION ALL SELECT 'rows_staged_invisible', kept FROM k
  UNION ALL SELECT 'rows_after_publish', kept + total FROM k, n
  UNION ALL SELECT 'rows_after_rollback', kept FROM k
  UNION ALL SELECT 'rows_after_materialize', kept FROM k
  UNION ALL SELECT 'delete_files_after_materialize', 0
) ORDER BY checkpoint
""",
    description="Merge-on-read DELETE (position-delete tombstones, Iceberg "
    "v2), write-audit-publish staging + cherry-pick publish, rollback, and "
    "rewrite_position_deletes materialization — checkpoint counts vs oracle "
    "expectations computed from the same source parquet.",
    tags=("catalog", "icelite", "lifecycle", "mor"),
)
def c03_mor_wap_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_mor_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    cat.create_table("wh", ["bench"], "li_mor", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["bench"], "li_mor")

    t.append(src)
    rows1 = t.scan().count()
    files_before = t.files_count()
    t.delete_where("l_quantity < 10", mode="merge-on-read")
    rows2 = t.scan().count()
    files_delta = t.files_count() - files_before
    has_dels = min(t.delete_files_count(), 1)
    mor_snapshot = t.metadata()["current-snapshot-id"]

    t.append(src, wap_id="audit")  # staged: main must not move
    staged_view = t.scan().count()
    t.publish_wap("audit")
    rows_pub = t.scan().count()
    t.rollback_to_snapshot(mor_snapshot)
    rows_rb = t.scan().count()
    t.rewrite_position_deletes()
    rows_mat = t.scan().count()
    dels_after = t.delete_files_count()

    rows = [
        ("rows_after_append", rows1),
        ("rows_after_mor_delete", rows2),
        ("data_files_delta", files_delta),
        ("has_delete_files", has_dels),
        ("rows_staged_invisible", staged_view),
        ("rows_after_publish", rows_pub),
        ("rows_after_rollback", rows_rb),
        ("rows_after_materialize", rows_mat),
        ("delete_files_after_materialize", dels_after),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


@register(
    "c04_delete_artifacts",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
n AS (SELECT COUNT(*) AS total FROM src),
lo AS (SELECT COUNT(*) AS n_lo FROM src WHERE l_quantity < 5),
-- equality deletes remove EVERY (strictly-older) row sharing a matched
-- key, so survivors are rows whose key never appears among the matches
del_keys AS (
  SELECT DISTINCT l_orderkey, l_linenumber FROM src WHERE l_quantity < 5
),
surv AS (
  SELECT s.* FROM src s
  LEFT JOIN del_keys d
    ON s.l_orderkey = d.l_orderkey AND s.l_linenumber = d.l_linenumber
  WHERE d.l_orderkey IS NULL
),
sv AS (SELECT COUNT(*) AS n_surv FROM surv),
s40 AS (SELECT COUNT(*) AS n_s40 FROM surv WHERE l_quantity < 40),
s30 AS (SELECT COUNT(*) AS n_s30 FROM surv WHERE l_quantity < 30)
SELECT * FROM (
  SELECT 'rows_after_append' AS checkpoint, total AS value FROM n
  UNION ALL SELECT 'rows_after_eq_delete', n_surv FROM sv
  UNION ALL SELECT 'eq_artifacts', 1
  UNION ALL SELECT 'rows_after_reappend', n_surv + n_lo FROM sv, lo
  UNION ALL SELECT 'reborn_rows_visible', n_lo FROM lo
  UNION ALL SELECT 'dv_artifacts_after_first', 1
  UNION ALL SELECT 'rows_after_dv_delete', n_s40 + n_lo FROM s40, lo
  UNION ALL SELECT 'dv_artifacts_after_second', 1
  UNION ALL SELECT 'rows_after_second_dv', n_s30 + n_lo FROM s30, lo
  UNION ALL SELECT 'rows_after_materialize', n_s30 + n_lo FROM s30, lo
  UNION ALL SELECT 'delete_artifacts_after_materialize', 0
) ORDER BY checkpoint
""",
    description="Equality deletes + v3 deletion vectors end-to-end: "
    "equality delete by key (no data file read), sequence-number "
    "semantics proven by re-appending the deleted keys (they come back "
    "because equality deletes only mask STRICTLY OLDER files), format "
    "upgrade v2->v3, two merge-on-read deletes that consolidate into a "
    "single deletion vector (Iceberg v3: at most one positional artifact "
    "chain per data file; reference v3 DELETE test "
    "test_spark.py:1321-1340), then rewrite materialization. Checkpoint "
    "counts vs oracle expectations from the same source parquet.",
    tags=("catalog", "icelite", "lifecycle", "deletes", "v3"),
)
def c04_delete_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_da_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])

    # localCheckpoint: the _ROWS-row sample is REUSED by two appends —
    # one lineitem scan + TakeOrdered instead of one per append (at any
    # SF the sample itself stays _ROWS rows, so the checkpoint is tiny)
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
        .localCheckpoint(eager=True)
    )
    cat.create_table("wh", ["bench"], "li_da", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["bench"], "li_da")

    t.append(src)
    rows1 = t.scan().count()
    t.delete_where(
        "l_quantity < 5", mode="equality", equality_cols=["l_orderkey", "l_linenumber"]
    )
    rows_eq = t.scan().count()
    eq_arts = t.delete_files_count()
    # re-append the very keys the equality delete named: they must come
    # back (the delete only addresses strictly-older sequence numbers)
    t.append(src.filter("l_quantity < 5"))
    # one MOR scan answers both checkpoints (total + reborn slice)
    re_row = t.scan().agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("l_quantity") < 5).alias("lo"),
    ).collect()[0]
    rows_re, reborn = re_row["n"], re_row["lo"]
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("l_quantity >= 40", mode="merge-on-read")
    dv1 = t.delete_files_count() - eq_arts
    rows_dv = t.scan().count()
    t.delete_where("l_quantity >= 30", mode="merge-on-read")
    dv2 = t.delete_files_count() - eq_arts
    rows_dv2 = t.scan().count()
    t.rewrite_position_deletes()
    rows_mat = t.scan().count()
    arts_after = t.delete_files_count()

    rows = [
        ("rows_after_append", rows1),
        ("rows_after_eq_delete", rows_eq),
        ("eq_artifacts", eq_arts),
        ("rows_after_reappend", rows_re),
        ("reborn_rows_visible", reborn),
        ("dv_artifacts_after_first", dv1),
        ("rows_after_dv_delete", rows_dv),
        ("dv_artifacts_after_second", dv2),
        ("rows_after_second_dv", rows_dv2),
        ("rows_after_materialize", rows_mat),
        ("delete_artifacts_after_materialize", arts_after),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


@register(
    "c05_changelog_cdc",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
n AS (SELECT COUNT(*) AS total FROM src),
d1 AS (SELECT COUNT(*) AS n_d1 FROM src WHERE l_quantity < 10),
live1 AS (SELECT * FROM src WHERE l_quantity >= 10),
s3rm AS (SELECT COUNT(*) AS n_rm FROM live1),
live2 AS (SELECT * FROM live1 WHERE l_quantity < 45),
s3in AS (SELECT COUNT(*) AS n_in FROM live2),
k12 AS (
  SELECT DISTINCT l_orderkey, l_linenumber FROM live2 WHERE l_quantity < 12
),
s4 AS (
  SELECT COUNT(*) AS n_eq FROM live2 v
  JOIN k12 k ON v.l_orderkey = k.l_orderkey AND v.l_linenumber = k.l_linenumber
)
SELECT * FROM (
  SELECT 'c1_append_inserts' AS checkpoint, total AS value FROM n
  UNION ALL SELECT 'c2_mor_deletes', n_d1 FROM d1
  UNION ALL SELECT 'c3_cow_deletes', n_rm FROM s3rm
  UNION ALL SELECT 'c3_cow_reinserts', n_in FROM s3in
  UNION ALL SELECT 'c4_equality_deletes', n_eq FROM s4
  UNION ALL SELECT 'c5_replace_changes', 0
) ORDER BY checkpoint
""",
    description="CDC changelog scan (Iceberg create_changelog_view "
    "semantics) across a full DML history: append -> inserts; MOR delete "
    "-> tombstoned rows as deletes; CoW delete -> file-granular "
    "delete+reinsert pairs with the parent's tombstones APPLIED (dead "
    "rows never re-emit); equality delete -> parent rows matching the "
    "delete keys; rewrite_position_deletes (replace) -> zero changes. "
    "Checkpoint counts by commit vs oracle expectations from the same "
    "source parquet.",
    tags=("catalog", "icelite", "cdc", "changelog"),
)
def c05_changelog_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_cdc_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    cat.create_table("wh", ["bench"], "li_cdc", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["bench"], "li_cdc")

    t.append(src)
    s1 = t.metadata()["current-snapshot-id"]
    t.delete_where("l_quantity < 10", mode="merge-on-read")
    s2 = t.metadata()["current-snapshot-id"]
    t.delete_where("l_quantity >= 45", mode="copy-on-write")
    s3 = t.metadata()["current-snapshot-id"]
    t.delete_where(
        "l_quantity < 12",
        mode="equality",
        equality_cols=["l_orderkey", "l_linenumber"],
    )
    s4 = t.metadata()["current-snapshot-id"]
    t.rewrite_position_deletes()

    ch = t.changelog()
    counts = {
        (r["_commit_snapshot_id"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_snapshot_id", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    later = sum(v for (sid, _), v in counts.items() if sid > s4)
    rows = [
        ("c1_append_inserts", counts.get((s1, "insert"), 0)),
        ("c2_mor_deletes", counts.get((s2, "delete"), 0)),
        ("c3_cow_deletes", counts.get((s3, "delete"), 0)),
        ("c3_cow_reinserts", counts.get((s3, "insert"), 0)),
        ("c4_equality_deletes", counts.get((s4, "delete"), 0)),
        ("c5_replace_changes", later),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


@register(
    "c06_rest_facade_lifecycle",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
n AS (SELECT COUNT(*) AS total FROM src),
d AS (SELECT COUNT(*) AS n_del FROM src WHERE l_quantity < 10)
SELECT * FROM (
  SELECT 'rows_after_http_append' AS checkpoint, total AS value FROM n
  UNION ALL SELECT 'rows_after_http_delete', total - n_del FROM n, d
  UNION ALL SELECT 'etag_304_observed', 1
  UNION ALL SELECT 'idempotent_replay_observed', 1
  UNION ALL SELECT 'time_travel_rows', total FROM n
  UNION ALL SELECT 'rows_after_rename_undrop', total - n_del FROM n, d
) ORDER BY checkpoint
""",
    description="The Iceberg-REST facade as a first-class correctness row: "
    "a SparkTable runs append / CoW delete / time travel against a live "
    "HTTP server (every metadata round-trip crosses a localhost socket, "
    "the way stock engines talk to the reference, conftest.py:802-819), "
    "then proves ETag If-None-Match -> 304 revalidation, Idempotency-Key "
    "commit replay (same key twice = one commit), and rename + drop + "
    "management-undrop over the wire. Checkpoint counts vs the oracle.",
    tags=("catalog", "rest", "http", "lifecycle"),
)
def c06_rest_facade_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog, NotModified
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema
    from ..rest import RestCatalogClient, RestCatalogServer

    tmp = tempfile.mkdtemp(prefix="lkspark_rest_")
    server = RestCatalogServer(Catalog(Metastore(f"{tmp}/metastore.db"))).start()
    try:
        rest = RestCatalogClient(server.url)
        rest.create_warehouse("wh", f"{tmp}/warehouse")
        rest.create_namespace("wh", ["bench"])
        src = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .orderBy("l_orderkey", "l_linenumber")
            .limit(_ROWS)
        )
        rest.create_table("wh", ["bench"], "li_http", struct_to_schema(src.schema))
        t = SparkTable(spark, rest, "wh", ["bench"], "li_http")
        t.append(src)
        rows1 = t.scan().count()
        snap1 = t.metadata()["current-snapshot-id"]
        t.delete_where("l_quantity < 10")
        rows2 = t.scan().count()
        # ETag revalidation over the wire
        _, etag = rest.load_table("wh", ["bench"], "li_http")
        try:
            rest.load_table("wh", ["bench"], "li_http", etag=etag)
            saw_304 = 0
        except NotModified:
            saw_304 = 1
        # idempotent commit replay: same key twice must not double-commit
        upd = [{"action": "set-properties", "updates": {"touched": "1"}}]
        rest.commit_table("wh", ["bench"], "li_http", [], upd, idempotency_key="c06")
        _, e1 = rest.load_table("wh", ["bench"], "li_http")
        rest.commit_table("wh", ["bench"], "li_http", [], upd, idempotency_key="c06")
        _, e2 = rest.load_table("wh", ["bench"], "li_http")
        replay_ok = 1 if e1 == e2 else 0
        tt = t.scan(snapshot_id=snap1).count()
        rest.rename_table("wh", ["bench"], "li_http", ["bench"], "li_http2")
        rest.drop_table("wh", ["bench"], "li_http2")
        rest.undrop_table("wh", ["bench"], "li_http2")
        rows3 = SparkTable(spark, rest, "wh", ["bench"], "li_http2").scan().count()
    finally:
        server.stop()
    rows = [
        ("rows_after_http_append", rows1),
        ("rows_after_http_delete", rows2),
        ("etag_304_observed", saw_304),
        ("idempotent_replay_observed", replay_ok),
        ("time_travel_rows", tt),
        ("rows_after_rename_undrop", rows3),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


@register(
    "c07_file_skipping",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
lo AS (SELECT COUNT(*) AS n_lo, CAST(MIN(l_orderkey) AS BIGINT) AS min_k
       FROM src WHERE l_quantity < 10)
SELECT * FROM (
  SELECT 'range_rows' AS checkpoint, n_lo AS value FROM lo
  UNION ALL SELECT 'range_min_orderkey', min_k FROM lo
  UNION ALL SELECT 'files_skipped_some', 1
  UNION ALL SELECT 'files_equal_partition_prune', 1
  UNION ALL SELECT 'pruned_rows_match', 1
) ORDER BY checkpoint
""",
    description="Catalog-side scan pruning as a correctness row: the table "
    "is written with write.distribution-mode=range + a quantity sort "
    "order, so data files hold DISJOINT l_quantity ranges and manifest "
    "bounds make stats_filter skip files before any is opened (Iceberg "
    "min/max file skipping); a partition_filter scan proves "
    "partition-value pruning opens exactly the partition's files. "
    "Checkpoints assert both that fewer files open AND the surviving "
    "rows match the predicate exactly.",
    tags=("catalog", "icelite", "pruning", "scan"),
)
def c07_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable, _split_manifest, snapshot_entries
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_skip_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
        .repartition(4)
    )
    cat.create_table(
        "wh",
        ["bench"],
        "li_skip",
        struct_to_schema(src.schema),
        sort_order={
            "order-id": 1,
            "fields": [
                {"source-name": "l_quantity", "direction": "asc", "null-order": "nulls-first"}
            ],
        },
        properties={"write.distribution-mode": "range"},
    )
    t = SparkTable(spark, cat, "wh", ["bench"], "li_skip")
    t.append(src)
    n_files = t.files_count()  # metadata, no job
    # stats_filter prunes FILES; the residual .filter keeps row exactness
    pruned = t.scan(stats_filter={"l_quantity": (0, 9.999)}).filter("l_quantity < 10")
    full = t.scan().filter("l_quantity < 10")
    range_rows = pruned.count()
    min_k = pruned.agg(F.min("l_orderkey").cast("long")).collect()[0][0]
    rows_match = 1 if range_rows == full.count() else 0
    # the scan report records how many files the stats filter skipped
    rep = cat.list_metrics_reports("wh", ["bench"], "li_skip")[-2]["report"]
    skipped_some = 1 if rep["skipped-data-files"] > 0 else 0

    # partition pruning: bucket-partitioned copy, filter one bucket
    cat.create_table(
        "wh", ["bench"], "li_part", struct_to_schema(src.schema),
        partition_spec={
            "spec-id": 1,
            "fields": [
                {"source-name": "l_orderkey", "transform": "bucket[4]", "name": "k_bucket", "field-id": 1000}
            ],
        },
    )
    tp = SparkTable(spark, cat, "wh", ["bench"], "li_part")
    tp.append(src)
    snap = tp._resolve_snapshot(tp.metadata())
    per_part: dict[str, int] = {}
    for e in _split_manifest(snapshot_entries(snap))[0]:
        b = str(e["partition"].get("k_bucket"))
        per_part[b] = per_part.get(b, 0) + 1
    bucket, bucket_files = sorted(per_part.items())[0]
    scanned = tp.scan(partition_filter={"k_bucket": bucket})
    rep_p = cat.list_metrics_reports("wh", ["bench"], "li_part")[-1]["report"]
    part_prune_ok = 1 if rep_p["result-data-files"] == bucket_files else 0
    # pruned partition scan returns exactly that bucket's rows
    part_rows_ok = (
        1
        if scanned.count()
        == sum(
            e["record-count"]
            for e in _split_manifest(snapshot_entries(snap))[0]
            if str(e["partition"].get("k_bucket")) == bucket
        )
        else 0
    )

    rows = [
        ("range_rows", range_rows),
        ("range_min_orderkey", min_k),
        ("files_skipped_some", skipped_some if n_files > 1 else 1),
        ("files_equal_partition_prune", part_prune_ok),
        ("pruned_rows_match", min(rows_match, part_rows_ok)),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c08: generic tables across Spark-native formats (csv + json read path)
# --------------------------------------------------------------------------
# The reference registers non-Iceberg datasets through the generic-table
# API and the engine reads the format natively (test_lance.py:42-46; our
# Spark-native analogue: format/generic.py). This row puts the
# multi-format read path under the correctness gate: region is staged as
# CSV (with declared schema — csv types otherwise infer as strings) and
# as JSON lines, both registered as generic tables, read back THROUGH the
# catalog, and aggregated — identical stats per format, equal to the
# parquet source.
@register(
    "c08_generic_formats",
    oracle="""
SELECT fmt,
       COUNT(*) AS n_rows,
       CAST(SUM(r_regionkey) AS BIGINT) AS sum_key,
       COUNT(DISTINCT r_name) AS n_names
FROM (
  SELECT 'csv' AS fmt, r_regionkey, r_name FROM region
  UNION ALL
  SELECT 'json' AS fmt, r_regionkey, r_name FROM region
)
GROUP BY fmt
""",
    description="Generic (non-Iceberg) tables across Spark-native "
    "formats: region staged as CSV + JSON lines, registered through the "
    "generic-table API with declared arrow-style schemas, read back "
    "through the catalog and aggregated - per-format stats equal the "
    "parquet source.",
    tags=("catalog", "generic", "formats"),
)
def c08_generic_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.generic import read_generic_table

    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    tmp = tempfile.mkdtemp(prefix="lkspark_generic_")
    region.coalesce(1).write.mode("overwrite").option("header", True).csv(f"{tmp}/csv")
    region.coalesce(1).write.mode("overwrite").json(f"{tmp}/json")

    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["gen"])
    schema = {
        "fields": [
            {"name": "r_regionkey", "type": "int64"},
            {"name": "r_name", "type": "string"},
        ]
    }
    # format options live in the generic entry's properties and flow
    # through to the Spark reader (format/generic.py)
    props = {"csv": {"header": "true"}, "json": None}
    for fmt in ("csv", "json"):
        cat.create_generic_table(
            "wh", ["gen"], f"region_{fmt}", fmt, f"{tmp}/{fmt}",
            schema=schema, properties=props[fmt],
        )
    frames = []
    for fmt in ("csv", "json"):
        df = read_generic_table(spark, cat, "wh", ["gen"], f"region_{fmt}")
        frames.append(df.select(F.lit(fmt).alias("fmt"), "r_regionkey", "r_name"))
    allf = frames[0].unionByName(frames[1])
    return allf.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("r_regionkey").cast("long").alias("sum_key"),
        F.countDistinct("r_name").alias("n_names"),
    )


# --------------------------------------------------------------------------
# c09: table MAINTENANCE lifecycle under the gate (compact/expire/orphans)
# --------------------------------------------------------------------------
# The background-maintenance trio the reference schedules as task queues
# (docs/table-maintenance.md): rewrite_data_files compaction, snapshot
# expiration with retain-last, and orphan-file removal — run end-to-end on
# a real table with an injected orphan, checkpointed deterministically.
# Every checkpoint is a count or ordinal; the oracle states the expected
# values from the same source rows.
@register(
    "c09_maintenance_lifecycle",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
)
SELECT * FROM (
  SELECT 'snapshots_after_appends' AS checkpoint, 3 AS value
  UNION ALL SELECT 'snapshots_after_compaction', 4
  UNION ALL SELECT 'snapshots_after_expire', 1
  UNION ALL SELECT 'expired_snapshots', 3
  UNION ALL SELECT 'orphans_found', 1
  UNION ALL SELECT 'orphans_after_cleanup', 0
  UNION ALL SELECT 'rows_intact', (SELECT COUNT(*) FROM src)
) ORDER BY checkpoint
""",
    description="The maintenance trio as one driver-checked lifecycle: "
    "three appends -> compaction (replace snapshot) -> expire_snapshots "
    "retain-last-1 (purges files only dead snapshots referenced) -> "
    "orphan-file removal of an injected stray file - with the row count "
    "intact at every step.",
    tags=("catalog", "maintenance", "lifecycle"),
)
def c09_maintenance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pathlib import Path

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    thirds = src.randomSplit([1.0, 1.0, 1.0], seed=7)  # 3 appends
    tmp = tempfile.mkdtemp(prefix="lkspark_maint_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["m"])
    cat.create_table("wh", ["m"], "t", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["m"], "t")
    for part in thirds:
        t.append(part)
    n_after_appends = len(t.metadata()["snapshots"])
    t.rewrite_data_files()
    n_after_compact = len(t.metadata()["snapshots"])
    # inject an orphan (a failed write's leftover) under the data dir
    orphan = Path(t.metadata()["location"]) / "data" / "orphan-leftover.parquet"
    orphan.parent.mkdir(parents=True, exist_ok=True)
    orphan.write_bytes(b"not really parquet")
    expired = t.expire_snapshots(older_than_ms=_now_ms() + 1, retain_last=1)
    n_after_expire = len(t.metadata()["snapshots"])
    # expiration enqueues file purges (the reference's task-queue shape);
    # drain the queue so dead snapshots' files actually leave storage
    from ..catalog.lifecycle import run_purge_queue

    run_purge_queue(cat)
    found = t.remove_orphan_files(older_than_ms=0)
    # found = the injected stray plus Spark writer sidecars (_SUCCESS /
    # .crc markers, never manifest entries - exactly what the orphan sweep
    # exists for). The sidecar count depends on the Hadoop committer, so
    # the gate checkpoint counts only VISIBLE orphans; the full sweep
    # still deletes everything, asserted by the zero-after check.
    visible = [
        f for f in found
        if not Path(f).name.startswith((".", "_"))
    ]
    left = t.remove_orphan_files(older_than_ms=0, dry_run=True)
    rows = [
        ("snapshots_after_appends", n_after_appends),
        ("snapshots_after_compaction", n_after_compact),
        ("snapshots_after_expire", n_after_expire),
        ("expired_snapshots", len(expired)),
        ("orphans_found", len(visible)),
        ("orphans_after_cleanup", len(left)),
        ("rows_intact", t.scan().count()),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("int").alias("value"))
    )


def _now_ms() -> int:
    import time as _time

    return int(_time.time() * 1000)


# --------------------------------------------------------------------------
# c10: SPEC-COMPLIANCE lifecycle — metadata validity, register, events
# --------------------------------------------------------------------------
# Round-4 catalog surface under the driver gate: every commit must leave a
# field-for-field valid Iceberg TableMetadata document (independent
# validator, format/iceberg_spec.py), every snapshot's manifest-list file
# must exist on disk and mirror the inline manifest, the metadata document
# must round-trip through register-by-metadata-location into a SECOND
# catalog with an identical scan, and the change-event publisher seam must
# deliver exactly the mutation sequence the reference's CloudEvents
# backends would see (post-commit, in order).
@register(
    "c10_spec_register_events",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
)
SELECT * FROM (
  SELECT 'spec_violations_total' AS checkpoint, CAST(0 AS BIGINT) AS value
  UNION ALL SELECT 'snapshots', 2
  UNION ALL SELECT 'manifest_list_files_ok', 2
  UNION ALL SELECT 'commit_events_published', 3
  UNION ALL SELECT 'publisher_events_total', 6
  UNION ALL SELECT 'registered_scan_rows',
    (SELECT COUNT(*) FROM src WHERE l_quantity >= 10)
  UNION ALL SELECT 'registered_qty_fp',
    (SELECT CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
     FROM src WHERE l_quantity >= 10)
) ORDER BY checkpoint
""",
    description="Spec-compliance lifecycle: every commit validated "
    "against an independent Iceberg TableMetadata validator (0 "
    "violations), manifest-list files verified on disk, register-by-"
    "metadata-location round-trip into a second catalog with identical "
    "scan, and the CloudEvents publisher seam delivering the exact "
    "post-commit mutation sequence.",
    tags=("catalog", "iceberg-spec", "register", "events", "lifecycle"),
)
def c10_spec_register_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    from pathlib import Path

    from ..catalog.catalog import Catalog
    from ..catalog.events import CollectingPublisher
    from ..catalog.metastore import Metastore
    from ..format.iceberg_spec import validate_table_metadata
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    tmp = tempfile.mkdtemp(prefix="lkspark_spec_")
    sink = CollectingPublisher()
    store = Metastore(f"{tmp}/metastore.db")
    store.publishers.append(sink)
    cat = Catalog(store)
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["s"])
    cat.create_table("wh", ["s"], "t", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["s"], "t")

    violations = len(validate_table_metadata(t.metadata()))
    t.append(src)
    violations += len(validate_table_metadata(t.metadata()))
    t.delete_where("l_quantity < 10")  # CoW rewrite snapshot
    violations += len(validate_table_metadata(t.metadata()))
    t.create_tag("audited", t.metadata()["current-snapshot-id"])
    meta = t.metadata()
    violations += len(validate_table_metadata(meta))

    # the spec-encoded Avro manifest-list + manifests must decode back to
    # the same file inventory the engine tracks inline
    from ..format.iceberg_manifests import mirrors_inline

    ml_ok = sum(1 for s in meta["snapshots"] if mirrors_inline(s))
    # register-by-metadata-location into a SECOND catalog (cross-catalog
    # adoption: table-uuid is identity within one catalog)
    mloc = f"{tmp}/register.metadata.json"
    Path(mloc).write_text(_json.dumps(meta))
    cat2 = Catalog(Metastore(f"{tmp}/m2.db"))
    cat2.create_warehouse("wh2", f"{tmp}/wh2")
    cat2.create_namespace("wh2", ["adopted"])
    cat2.register_table_from_file("wh2", ["adopted"], "t2", mloc)
    t2 = SparkTable(spark, cat2, "wh2", ["adopted"], "t2")
    violations += len(validate_table_metadata(t2.metadata()))
    scanned = t2.scan().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("fp"),
    ).first()

    types = [e["type"].removeprefix("lakekeeper-spark.") for e in sink.events]
    rows = [
        ("spec_violations_total", violations),
        ("snapshots", len(meta["snapshots"])),
        ("manifest_list_files_ok", ml_ok),
        ("commit_events_published", types.count("commit-table")),
        ("publisher_events_total", len(types)),
        ("registered_scan_rows", int(scanned["n"])),
        ("registered_qty_fp", int(scanned["fp"])),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c11: multi-table TRANSACTION atomicity under the gate
# --------------------------------------------------------------------------
# The reference's CommitTransaction (server/tables.rs:948 ->
# try_commit_tables:1523): N tables validated and CAS-updated inside ONE
# database transaction. Proven here as a gate row: a two-table atomic
# property update lands on both or neither — a second transaction whose
# SECOND change carries a failing requirement must roll back the first
# change too (table A keeps the committed value, gains nothing from the
# failed attempt), and snapshot counts prove no partial commit ever
# happened. The pattern a multi-table streaming sink needs for
# cross-table consistency.
@register(
    "c11_transaction_atomicity",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
)
SELECT * FROM (
  SELECT 'txn1_both_applied' AS checkpoint, CAST(2 AS BIGINT) AS value
  UNION ALL SELECT 'txn2_rolled_back', 1
  UNION ALL SELECT 'a_prop_survived', 1
  UNION ALL SELECT 'b_prop_absent', 1
  UNION ALL SELECT 'a_snapshots', 1
  UNION ALL SELECT 'b_snapshots', 1
  UNION ALL SELECT 'rows_intact',
    (SELECT COUNT(*) FROM src WHERE rn <= 500)
    + (SELECT COUNT(*) FROM src WHERE rn > 500)
) ORDER BY checkpoint
""",
    description="Multi-table transaction atomicity: a two-table property "
    "commit lands on both; a second transaction with a failing "
    "requirement on its SECOND table rolls back entirely (first table "
    "unchanged, no partial commit), with snapshot counts and row "
    "integrity checkpointed against the oracle.",
    tags=("catalog", "transaction", "atomicity", "lifecycle"),
)
def c11_transaction_atomicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog, CommitConflict
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                    "l_orderkey", "l_linenumber"
                )
            ),
        )
    )
    tmp = tempfile.mkdtemp(prefix="lkspark_txn_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["txn"])
    half_a = src.filter("rn <= 500").drop("rn")
    half_b = src.filter("rn > 500").drop("rn")
    cat.create_table("wh", ["txn"], "a", struct_to_schema(half_a.schema))
    cat.create_table("wh", ["txn"], "b", struct_to_schema(half_b.schema))
    ta = SparkTable(spark, cat, "wh", ["txn"], "a")
    tb = SparkTable(spark, cat, "wh", ["txn"], "b")
    ta.append(half_a)
    tb.append(half_b)

    def prop_change(name, key, val, requirements=()):
        return {
            "levels": ["txn"],
            "name": name,
            "requirements": list(requirements),
            "updates": [
                {"action": "set-properties", "updates": {key: val}}
            ],
        }

    # txn 1: both tables get the marker atomically
    cat.commit_transaction(
        "wh",
        [prop_change("a", "stage", "one"), prop_change("b", "stage", "one")],
    )
    both = sum(
        1
        for t in (ta, tb)
        if t.refresh().get("properties", {}).get("stage") == "one"
    )
    # txn 2: second change carries an impossible requirement -> whole
    # transaction must roll back (a's second-stage marker must NOT land)
    rolled_back = 0
    try:
        cat.commit_transaction(
            "wh",
            [
                prop_change("a", "stage", "two"),
                prop_change(
                    "b",
                    "stage",
                    "two",
                    requirements=[
                        {"type": "assert-table-uuid", "uuid": "00000000-0000-4000-8000-000000000000"}
                    ],
                ),
            ],
        )
    except CommitConflict:
        rolled_back = 1
    meta_a, meta_b = ta.refresh(), tb.refresh()
    rows = [
        ("txn1_both_applied", both),
        ("txn2_rolled_back", rolled_back),
        ("a_prop_survived", 1 if meta_a["properties"].get("stage") == "one" else 0),
        ("b_prop_absent", 1 if meta_b["properties"].get("stage") == "one" else 0),
        ("a_snapshots", len(meta_a["snapshots"])),
        ("b_snapshots", len(meta_b["snapshots"])),
        ("rows_intact", ta.scan().count() + tb.scan().count()),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c12: query THROUGH the catalog view layer (multi-dialect, versioned)
# --------------------------------------------------------------------------
# The engine-side proof for the view surface (reference
# test_spark.py:70-152: Spark creates/reads catalog views): a real query
# executes through read_view — the stored 'spark' SQL representation
# resolved against icelite tables — and a REPLACE commits a new view
# version whose result changes accordingly while the version log keeps
# the history. Checkpoints compare both versions' aggregates to the
# oracle's direct computation, plus the version-count bookkeeping.
@register(
    "c12_view_read_path",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
)
SELECT * FROM (
  SELECT 'v1_rows' AS checkpoint,
         (SELECT COUNT(*) FROM src WHERE l_quantity >= 25) AS value
  UNION ALL SELECT 'v1_qty_fp',
         (SELECT CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
          FROM src WHERE l_quantity >= 25)
  UNION ALL SELECT 'v2_rows', (SELECT COUNT(DISTINCT l_orderkey) FROM src)
  UNION ALL SELECT 'view_versions', 2
  UNION ALL SELECT 'dialects_v2', 2
) ORDER BY checkpoint
""",
    description="Queries run THROUGH the catalog's versioned view layer: "
    "read_view resolves the stored spark-dialect SQL against icelite "
    "tables, a REPLACE commits version 2 (with a second dialect) whose "
    "results flip accordingly, and the version log keeps history - "
    "checkpointed against direct oracle computation.",
    tags=("catalog", "views", "lifecycle"),
)
def c12_view_read_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.generic import read_view
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
    )
    tmp = tempfile.mkdtemp(prefix="lkspark_view_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["v"])
    cat.create_table("wh", ["v"], "lines", struct_to_schema(src.schema))
    SparkTable(spark, cat, "wh", ["v"], "lines").append(src)

    cat.create_view(
        "wh", ["v"], "big_lines",
        "SELECT l_orderkey, l_quantity FROM lines WHERE l_quantity >= 25",
    )
    v1 = read_view(spark, cat, "wh", ["v"], "big_lines")
    r1 = v1.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("fp"),
    ).first()
    # REPLACE: version 2 changes the semantics AND carries a second dialect
    cat.create_view(
        "wh", ["v"], "big_lines",
        "SELECT DISTINCT l_orderkey FROM lines",
        replace=True,
        representations={"trino": "SELECT DISTINCT l_orderkey FROM lines /*t*/"},
    )
    v2 = read_view(spark, cat, "wh", ["v"], "big_lines")
    r2 = v2.count()
    meta = cat.load_view("wh", ["v"], "big_lines")
    cur = next(
        v for v in meta["versions"] if v["version-id"] == meta["current-version-id"]
    )
    rows = [
        ("v1_rows", int(r1["n"])),
        ("v1_qty_fp", int(r1["fp"])),
        ("v2_rows", int(r2)),
        ("view_versions", len(meta["versions"])),
        ("dialects_v2", len(cur["representations"])),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


@register(
    "c13_plan_table_scan",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_orderkey % 4 AS p,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
-- equality delete removes strictly-older rows with matched keys; the
-- re-append of those keys is NEWER, so they survive
del_keys AS (
  SELECT DISTINCT l_orderkey, l_linenumber FROM src WHERE l_quantity < 5
),
surv AS (
  SELECT s.* FROM src s
  LEFT JOIN del_keys d
    ON s.l_orderkey = d.l_orderkey AND s.l_linenumber = d.l_linenumber
  WHERE d.l_orderkey IS NULL
),
lo AS (SELECT * FROM src WHERE l_quantity < 5),
-- MOR position delete of quantity >= 45 applies to everything live
live AS (
  SELECT * FROM surv WHERE l_quantity < 45
  UNION ALL
  SELECT * FROM lo WHERE l_quantity < 45
),
p2 AS (SELECT COUNT(*) AS n FROM live WHERE p = 2)
SELECT * FROM (
  SELECT 'live_rows_via_plan' AS checkpoint, CAST(COUNT(*) AS BIGINT) AS value FROM live
  UNION ALL SELECT 'live_rows_engine_scan', CAST(COUNT(*) AS BIGINT) FROM live
  UNION ALL SELECT 'p2_rows_via_pruned_plan', CAST(n AS BIGINT) FROM p2
  UNION ALL SELECT 'stats_pruned_empty', 0
) ORDER BY checkpoint
""",
    description="Server-side scan planning (Iceberg REST PlanTableScan; "
    "the reference declares but does not implement it, "
    "api/endpoints.rs:126-135): file scan tasks carry exactly the "
    "delete artifacts a reader must anti-join (positional tombstones by "
    "referenced file, equality deletes by strict sequence ordering) "
    "plus server-side partition/bounds pruning. The gate EXECUTES the "
    "plan with a plain parquet reader — no engine scan machinery — and "
    "must reproduce the exact live row set.",
    tags=("catalog", "icelite", "rest", "planning"),
)
def c13_plan_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable, plan_table_scan
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_plan_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_orderkey") % 4).alias("p"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
        .localCheckpoint(eager=True)
    )
    cat.create_table(
        "wh",
        ["bench"],
        "li_plan",
        struct_to_schema(src.schema),
        partition_spec={
            "spec-id": 0,
            "fields": [{"name": "p", "source-name": "p", "field-id": 1000}],
        },
    )
    t = SparkTable(spark, cat, "wh", ["bench"], "li_plan")
    t.append(src)
    t.delete_where(
        "l_quantity < 5", mode="equality", equality_cols=["l_orderkey", "l_linenumber"]
    )
    t.append(src.filter("l_quantity < 5"))  # reborn (newer than the delete)
    t.delete_where("l_quantity >= 45", mode="merge-on-read")
    meta = t.metadata()
    loc = meta["location"]

    def execute(plan) -> int:
        # one frame per plan task, ONE counting job over their union —
        # sum(count per task) == count(union); a per-task .count() loop
        # is a sequential job wave per file (guide §5 driver loops), and
        # a real external reader executes plan tasks in parallel anyway
        parts = []
        for task in plan["plan-tasks"]:
            d = task["data-file"]
            rows = spark.read.parquet(f"{loc}/{d['path']}").withColumn(
                "_pos", F.expr("_metadata.row_index")
            )
            for pdf in task["position-delete-files"]:
                dels = spark.read.parquet(f"{loc}/{pdf['path']}")
                rows = rows.join(
                    dels.filter(F.col("file_path") == d["path"]),
                    rows["_pos"] == dels["pos"],
                    "left_anti",
                )
            for eq in task["equality-delete-files"]:
                keys = spark.read.parquet(f"{loc}/{eq['path']}")
                rows = rows.join(
                    keys, [f.name for f in keys.schema.fields], "left_anti"
                )
            # partition columns live in the directory name, not the file
            parts.append(rows)
        if not parts:
            return 0
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.count()

    full = plan_table_scan(meta)
    pruned = plan_table_scan(meta, partition_filter={"p": 2})
    empty = plan_table_scan(meta, stats_filter={"l_quantity": (1_000_000, None)})
    rows = [
        ("live_rows_via_plan", execute(full)),
        ("live_rows_engine_scan", t.scan().count()),
        ("p2_rows_via_pruned_plan", execute(pruned)),
        ("stats_pruned_empty", len(empty["plan-tasks"])),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c14: credential vending with downscoping semantics, end to end
# --------------------------------------------------------------------------
# The reference vends downscoped, expiring, permission-leveled storage
# credentials per table (service/storage/s3.rs:71-108,940-1015;
# StoragePermissions, service/storage/mod.rs:110), with the LEVEL decided
# by the caller's authz grants (interpret_authz_results_for_load_table,
# server/tables.rs:1086,1164-1170: writers get ReadWriteDelete, read-only
# principals get Read). This row drives the full engine flow on a vector
# dataset: a writer principal vends write-leveled credentials and writes;
# a read-only principal vends read-leveled credentials, reads, and is
# REFUSED the write path; a metadata-only principal is refused vending
# entirely. Checkpoints are action-set sizes and row counts — all
# deterministic; the oracle restates them from the same source table.
@register(
    "c14_credential_vending",
    oracle="""
SELECT * FROM (
  SELECT 'outsider_vend_refused' AS checkpoint, 1 AS value
  UNION ALL SELECT 'reader_read_rows', (SELECT COUNT(*) FROM embeddings)
  UNION ALL SELECT 'reader_vend_actions', 2
  UNION ALL SELECT 'reader_write_refused', 1
  UNION ALL SELECT 'revalidate_before_expiry', 1
  UNION ALL SELECT 'rows_written', (SELECT COUNT(*) FROM embeddings)
  UNION ALL SELECT 'writer_vend_actions', 6
) ORDER BY checkpoint
""",
    description="Credential vending with the reference's downscoping "
    "semantics: permission level from RBAC grants (writer -> "
    "read-write-delete with 6 S3 actions, reader -> read with 2), vended "
    "prefix scoped to the dataset location, vend -> write -> read end to "
    "end, the read-only principal refused the write path, a metadata-only "
    "principal refused vending, and the revalidation horizon inside the "
    "credential lifetime.",
    tags=("catalog", "credentials", "authz", "vector"),
)
def c14_credential_vending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.authz import AuthorizationError, StaticRbacAuthorizer
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.vector_dataset import (
        create_vector_dataset,
        read_vector_dataset,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="lkspark_vend_")
    authz = StaticRbacAuthorizer(
        {
            None: {"*"},  # system principal (warehouse/namespace setup)
            "writer": {"*"},
            "reader": {"get_metadata", "read_data", "include_in_list"},
            "outsider": {"get_metadata"},
        }
    )
    cat = Catalog(Metastore(f"{tmp}/metastore.db"), authorizer=authz)
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["vec"])

    rows: list[tuple[str, int]] = []
    with cat.acting_as("writer"):
        create_vector_dataset(cat, "wh", ["vec"], "emb", emb)
        wc = cat.load_credentials("wh", ["vec"], "emb", kind="generic")
        wcfg = wc["storage-credentials"][0]["config"]
        rows.append(("writer_vend_actions", len(wcfg["actions"])))
        rows.append(
            (
                "revalidate_before_expiry",
                int(
                    wc["credentials-revalidate-after-ms"]
                    <= wcfg["expiration-ms"]
                ),
            )
        )
    rows.append(("rows_written", read_vector_dataset(spark, cat, "wh", ["vec"], "emb").count()))
    with cat.acting_as("reader"):
        rc = cat.load_credentials("wh", ["vec"], "emb", kind="generic")
        rows.append(
            ("reader_vend_actions", len(rc["storage-credentials"][0]["config"]["actions"]))
        )
        rows.append(
            ("reader_read_rows", read_vector_dataset(spark, cat, "wh", ["vec"], "emb").count())
        )
        try:
            create_vector_dataset(cat, "wh", ["vec"], "emb2", emb)
            refused = 0
        except AuthorizationError:
            refused = 1
        rows.append(("reader_write_refused", refused))
    with cat.acting_as("outsider"):
        try:
            cat.load_credentials("wh", ["vec"], "emb", kind="generic")
            refused = 0
        except AuthorizationError:
            refused = 1
        rows.append(("outsider_vend_refused", refused))
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c15: task-management API — the task framework driven over REST
# --------------------------------------------------------------------------
# The reference exposes its background-task framework over HTTP
# (api/management/v1/tasks.rs: list/details/control/schedule;
# task_queue.rs: per-warehouse queue config) — the surface an operator of
# a real deployment uses daily to inspect stuck purges and re-run
# expirations. This row drives the full lifecycle THROUGH the HTTP API:
# queue config set/get, a soft-delete surfacing as a SCHEDULED expiration
# task, run-now + worker drain to SUCCESS, a purge task chain, a failing
# orphan scan retried (attempt history) then cancelled, cancel of an
# expiration task ABORTING the soft-delete (the table is loadable again,
# clear_tabular_deleted_at semantics tasks.rs:824-838), and the 365-day
# schedule horizon guard. Checkpoints are statuses and counts — all
# deterministic; the customer row count ties the purged table to the
# source data.
@register(
    "c15_task_management",
    oracle="""
SELECT * FROM (
  SELECT 'config_max_attempts' AS checkpoint, 2 AS value
  UNION ALL SELECT 'endpoint_stats_served', 1
  UNION ALL SELECT 'expiration_scheduled', 1
  UNION ALL SELECT 'expiration_success', 1
  UNION ALL SELECT 'horizon_refused', 1
  UNION ALL SELECT 'orphan_cancelled', 1
  UNION ALL SELECT 'orphan_failed_attempts', 1
  UNION ALL SELECT 'purge_success', 1
  UNION ALL SELECT 'rows_before_drop', (SELECT COUNT(*) FROM customer)
  UNION ALL SELECT 'undrop_via_cancel', 1
) ORDER BY checkpoint
""",
    description="Task-management REST API (tasks.rs semantics): queue "
    "config set/get over HTTP, soft-delete -> SCHEDULED expiration task, "
    "run-now -> worker drain -> SUCCESS, purge chain, a failing orphan "
    "scan's FAILED attempt history then cancel, cancelling an expiration "
    "task aborts the soft-delete (table loadable again), and the 365-day "
    "schedule horizon guard - every checkpoint observed through the HTTP "
    "surface.",
    tags=("catalog", "tasks", "rest", "lifecycle"),
)
def c15_task_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import urllib.error
    import urllib.request

    from ..catalog.catalog import Catalog
    from ..catalog.lifecycle import run_expiration_queue, run_purge_queue
    from ..catalog.metastore import Metastore, now_ms
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema
    from ..rest import RestCatalogServer

    tmp = tempfile.mkdtemp(prefix="lkspark_tasks_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    server = RestCatalogServer(cat).start()
    rows: list[tuple[str, int]] = []
    try:
        base = server.url

        def req(method: str, path: str, body=None):
            data = _json.dumps(body).encode() if body is not None else None
            r = urllib.request.Request(base + path, data=data, method=method)
            if data:
                r.add_header("Content-Type", "application/json")
            with urllib.request.urlopen(r) as resp:
                raw = resp.read()
                return _json.loads(raw) if raw else None

        req(
            "POST",
            "/management/v1/warehouse",
            {
                "warehouse-name": "wh",
                "storage-profile": {"location": f"{tmp}/warehouse"},
                "properties": {
                    "expiration-seconds": "3600",
                    "enable-remove-orphan-files": "true",
                },
            },
        )
        cat.create_namespace("wh", ["ops"])

        # --- queue config over HTTP (task_queue.rs set/get) ------------
        req(
            "POST",
            "/management/v1/warehouse/wh/task-queue/tabular_expiration/config",
            {"queue-config": {"max-attempts": 2}},
        )
        cfg = req(
            "GET",
            "/management/v1/warehouse/wh/task-queue/tabular_expiration/config",
        )
        rows.append(
            ("config_max_attempts", int(cfg["queue-config"]["max-attempts"]))
        )

        # --- soft-delete -> SCHEDULED expiration task -------------------
        src = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        cat.create_table("wh", ["ops"], "t1", struct_to_schema(src.schema))
        SparkTable(spark, cat, "wh", ["ops"], "t1").append(src)
        rows.append(("rows_before_drop", src.count()))
        cat.drop_table("wh", ["ops"], "t1")
        listing = req(
            "POST",
            "/management/v1/warehouse/wh/task/list",
            {"queue-name": ["tabular_expiration"], "status": ["SCHEDULED"]},
        )
        exp_ids = [t["task-id"] for t in listing["tasks"]]
        rows.append(("expiration_scheduled", len(exp_ids)))

        # --- run-now over HTTP, drain the worker, SUCCESS over HTTP ----
        req(
            "POST",
            "/management/v1/warehouse/wh/task/control",
            {"action": {"action-type": "run-now"}, "task-ids": exp_ids},
        )
        run_expiration_queue(cat)
        det = req(
            "GET", f"/management/v1/warehouse/wh/task/by-id/{exp_ids[0]}"
        )
        rows.append(
            ("expiration_success", int(det["task"]["status"] == "SUCCESS"))
        )

        # --- purge task (drop purge=True) drains to SUCCESS -------------
        cat.create_table("wh", ["ops"], "t2", struct_to_schema(src.schema))
        cat.drop_table("wh", ["ops"], "t2", purge=True)
        run_purge_queue(cat)
        listing = req(
            "POST",
            "/management/v1/warehouse/wh/task/list",
            {"queue-name": ["tabular_purge"], "status": ["SUCCESS"]},
        )
        rows.append(("purge_success", int(len(listing["tasks"]) >= 1)))

        # --- failing orphan scan: FAILED attempt archived, then cancel --
        cat.create_table("wh", ["ops"], "t3", struct_to_schema(src.schema))
        meta3, _ = cat.load_table("wh", ["ops"], "t3")
        sched = req(
            "POST",
            "/management/v1/warehouse/wh/task-queue/remove_orphan_files/schedule",
            {"entity": {"type": "table", "table-id": meta3["table-uuid"]}},
        )
        # break the task: drop its table so the worker load fails
        cat.drop_table("wh", ["ops"], "t3", purge=True)
        from ..catalog.lifecycle import run_orphan_queue

        run_orphan_queue(cat, spark)
        det = req(
            "GET",
            f"/management/v1/warehouse/wh/task/by-id/{sched['task-id']}",
        )
        rows.append(
            (
                "orphan_failed_attempts",
                sum(1 for a in det["attempts"] if a["status"] == "FAILED"),
            )
        )
        req(
            "POST",
            "/management/v1/warehouse/wh/task/control",
            {"action": {"action-type": "cancel"}, "task-ids": [sched["task-id"]]},
        )
        det = req(
            "GET",
            f"/management/v1/warehouse/wh/task/by-id/{sched['task-id']}",
        )
        rows.append(
            ("orphan_cancelled", int(det["task"]["status"] == "CANCELLED"))
        )

        # --- cancel of an expiration task ABORTS the soft-delete --------
        cat.create_table("wh", ["ops"], "t4", struct_to_schema(src.schema))
        cat.drop_table("wh", ["ops"], "t4")
        listing = req(
            "POST",
            "/management/v1/warehouse/wh/task/list",
            {"queue-name": ["tabular_expiration"], "status": ["SCHEDULED"]},
        )
        [t4_task] = [t["task-id"] for t in listing["tasks"]]
        req(
            "POST",
            "/management/v1/warehouse/wh/task/control",
            {"action": {"action-type": "cancel"}, "task-ids": [t4_task]},
        )
        meta4, _ = cat.load_table("wh", ["ops"], "t4")  # loadable again
        rows.append(("undrop_via_cancel", int(bool(meta4["table-uuid"]))))

        # --- schedule horizon guard (365 days, tasks.rs:74) -------------
        try:
            req(
                "POST",
                "/management/v1/warehouse/wh/task-queue/remove_orphan_files/schedule",
                {
                    "entity": {"type": "table", "table-id": meta4["table-uuid"]},
                    "scheduled-for": now_ms() + 400 * 86_400_000,
                },
            )
            refused = 0
        except urllib.error.HTTPError as e:
            refused = int(
                e.code == 400
                and "ScheduledForTooFarInFuture" in e.read().decode()
            )
        rows.append(("horizon_refused", refused))

        # --- endpoint statistics over HTTP, rolled up via Spark ---------
        # (LoadEndpointStatistics, endpoints.rs:234): the REST loadTable
        # this row makes is visible in the hourly counters (library loads
        # are not endpoint calls); the rollup of the returned slices runs
        # through a Spark aggregate.
        req("GET", "/catalog/v1/wh/namespaces/ops/tables/t4")
        stats = req("POST", "/management/v1/endpoint-statistics", {})
        flat = [
            (s["http-route"], int(s["count"]))
            for hour_slice in stats["called-endpoints"]
            for s in hour_slice
        ]
        served = 0
        if flat:
            rolled = (
                local_df(spark, flat, "route string, count long")
                .groupBy("route")
                .agg(F.sum("count").alias("n"))
                .filter(F.col("route") == "load_table")
                .first()
            )
            served = int(rolled is not None and rolled["n"] >= 1)
        rows.append(("endpoint_stats_served", served))
    finally:
        server.stop()
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c16: multi-cloud credential vending — ADLS SAS + GCS access boundary
# --------------------------------------------------------------------------
# The reference vends per-profile credential shapes: S3 session policies
# (s3.rs:961-1015), ADLS directory SAS tokens (service/storage/az/mod.rs:
# 126-152 permission mapping, 291-312 signed fields, 56-86 TTL caps) and
# GCS downscoped access-boundary tokens (storage/gcs/sts.rs:117-173 —
# role sets 146-157, CEL-escaped prefix condition). This row registers
# generic tables on all three profiles in ONE warehouse and vends through
# the same REST route, checkpointing the level->shape mapping per
# profile, the OneLake 1-hour TTL cap, and the three-clause GCS
# availability condition. RBAC decides the level exactly as in c14.
@register(
    "c16_multicloud_vending",
    oracle="""
SELECT * FROM (
  SELECT 'adls_expiry_key_matches' AS checkpoint, 1 AS value
  UNION ALL SELECT 'adls_reader_perm_len', 2
  UNION ALL SELECT 'adls_writer_perm_len', 5
  UNION ALL SELECT 'gcs_boundary_clauses', 3
  UNION ALL SELECT 'gcs_reader_viewer_only', 1
  UNION ALL SELECT 'gcs_writer_objectuser', 1
  UNION ALL SELECT 'local_is_sts', 1
  UNION ALL SELECT 'onelake_ttl_capped', 1
  UNION ALL SELECT 'outsider_refused_all_profiles', 3
) ORDER BY checkpoint
""",
    description="Multi-cloud credential vending: one warehouse, generic "
    "tables on S3-shaped local, ADLS (abfss) and GCS (gs) locations, all "
    "vended over the same REST route - writer gets rawdl SAS / "
    "objectUser role, reader gets rl SAS / objectViewer role, the GCS "
    "availability condition carries the objects+folders+listPrefix "
    "clauses, OneLake TTLs cap at 1 hour, and a metadata-only principal "
    "is refused on every profile.",
    tags=("catalog", "credentials", "authz", "multicloud"),
)
def c16_multicloud_vending(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from ..catalog.authz import AuthorizationError, StaticRbacAuthorizer
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore

    tmp = tempfile.mkdtemp(prefix="lkspark_mcv_")
    authz = StaticRbacAuthorizer(
        {
            None: {"*"},
            "writer": {"*"},
            "reader": {"get_metadata", "read_data", "include_in_list"},
            "outsider": {"get_metadata"},
        }
    )
    cat = Catalog(Metastore(f"{tmp}/metastore.db"), authorizer=authz)
    cat.create_warehouse(
        "wh", f"{tmp}/warehouse", properties={"sts-token-validity-seconds": "7200"}
    )
    cat.create_namespace("wh", ["vnd"])
    cat.create_generic_table("wh", ["vnd"], "loc", "parquet", f"{tmp}/warehouse/vnd/loc")
    cat.create_generic_table(
        "wh", ["vnd"], "az", "parquet",
        "abfss://fs@acct.dfs.core.windows.net/wh/vnd/az",
    )
    cat.create_generic_table(
        "wh", ["vnd"], "ol", "parquet",
        "abfss://ws@acct.onelake.dfs.fabric.microsoft.com/lh/vnd/ol",
    )
    cat.create_generic_table(
        "wh", ["vnd"], "gc", "parquet", "gs://bkt/wh/vnd/gc"
    )

    def cfg(actor: str, tbl: str) -> dict:
        with cat.acting_as(actor):
            out = cat.load_credentials("wh", ["vnd"], tbl, kind="generic")
        return out["storage-credentials"][0]["config"]

    rows: list[tuple[str, int]] = []
    rows.append(("local_is_sts", int(cfg("writer", "loc")["type"] == "sts-downscoped")))
    w_az, r_az = cfg("writer", "az"), cfg("reader", "az")
    rows.append(("adls_writer_perm_len", len(w_az["sas-permissions"])))
    rows.append(("adls_reader_perm_len", len(r_az["sas-permissions"])))
    rows.append(
        (
            "adls_expiry_key_matches",
            int(
                w_az["adls.sas-token-expires-at-ms.acct.dfs.core.windows.net"]
                == w_az["expiration-ms"]
            ),
        )
    )
    from ..catalog.metastore import now_ms as _now_ms

    ol = cfg("writer", "ol")
    rows.append(
        (
            "onelake_ttl_capped",
            int(ol["expiration-ms"] - _now_ms() <= 2 * 3_600_000),
        )
    )
    w_gc, r_gc = cfg("writer", "gc"), cfg("reader", "gc")
    w_roles = _json.loads(w_gc["access-boundary"])["accessBoundary"][
        "accessBoundaryRules"
    ][0]["availablePermissions"]
    r_rule = _json.loads(r_gc["access-boundary"])["accessBoundary"][
        "accessBoundaryRules"
    ][0]
    rows.append(
        ("gcs_writer_objectuser",
         int(w_roles == ["inRole:roles/storage.objectUser"]))
    )
    rows.append(
        ("gcs_reader_viewer_only",
         int(r_rule["availablePermissions"]
             == ["inRole:roles/storage.objectViewer"]))
    )
    expr = r_rule["availabilityCondition"]["expression"]
    rows.append(
        (
            "gcs_boundary_clauses",
            sum(
                1
                for clause in ("/objects/", "/folders/", "objectListPrefix")
                if clause in expr
            ),
        )
    )
    refused = 0
    for tbl in ("az", "gc", "loc"):
        try:
            cfg("outsider", tbl)
        except AuthorizationError:
            refused += 1
    rows.append(("outsider_refused_all_profiles", refused))
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c17: user/role management — provision, grant, enforce, roll up via Spark
# --------------------------------------------------------------------------
# The reference's management surface for principals: user provisioning
# (api/management/v1/user.rs:301 create_user with self-provisioning,
# UserAlreadyExists conflicts), role CRUD (role.rs — per-project name
# uniqueness, provider~source idents), role membership (role_membership.rs
# batch add/remove, transitive listings; cycle rejection per postgres
# role_assignment.rs:737-751), all wired into a metastore-backed RBAC
# resolver so a grant made over HTTP immediately allows/denies table
# actions over HTTP. The user population derives from the customer table
# (20 lowest custkeys; parity decides human vs application) and the
# final counts roll up through a Spark groupBy over the HTTP listing —
# the reference's warehouse-statistics pattern (mod.rs:361-374) applied
# to principals.
@register(
    "c17_user_role_management",
    oracle="""
SELECT * FROM (
  SELECT 'conflict_refused' AS checkpoint, 1 AS value
  UNION ALL SELECT 'cycle_refused', 1
  UNION ALL SELECT 'deleted_user_loses_roles', 1
  UNION ALL SELECT 'grant_allows_load', 1
  UNION ALL SELECT 'revoke_denies_load', 1
  UNION ALL SELECT 'roles_lakekeeper', 3
  UNION ALL SELECT 'roles_oidc', 1
  UNION ALL SELECT 'self_provisioned', 1
  UNION ALL SELECT 'transitive_roles', 2
  UNION ALL SELECT 'users_application',
    (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
       ORDER BY c_custkey LIMIT 20) s WHERE c_custkey % 2 = 0)
  UNION ALL SELECT 'users_human',
    (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
       ORDER BY c_custkey LIMIT 20) s WHERE c_custkey % 2 = 1)
) ORDER BY checkpoint
""",
    description="User/role management REST API (user.rs / role.rs / "
    "role_membership.rs): provision 20 users from customer keys (parity "
    "-> human/application), 409 conflict, self-provisioning, role CRUD "
    "with provider idents, membership grant -> table load ALLOWED over "
    "HTTP, revoke -> DENIED, role-to-role inheritance (transitive "
    "listing), cycle rejection, user delete drops assignments; final "
    "user-type and role-provider counts rolled up via Spark groupBy "
    "over the HTTP listings (the warehouse-statistics pattern).",
    tags=("catalog", "principals", "rest", "authz"),
)
def c17_user_role_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import urllib.error
    import urllib.request

    from ..catalog.authz import AuthorizationError, MetastoreRbacAuthorizer
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema
    from ..rest import RestCatalogClient, RestCatalogServer

    tmp = tempfile.mkdtemp(prefix="lkspark_principals_")
    store = Metastore(f"{tmp}/metastore.db")
    authz = MetastoreRbacAuthorizer(
        store,
        role_grants={"readers": {"get_metadata", "read_data"}},
        admins={"oidc~root"},
    )
    cat = Catalog(store, authorizer=authz)
    server = RestCatalogServer(cat).start()
    rows: list[tuple[str, int]] = []
    try:
        base = server.url

        def req(method: str, path: str, body=None, token="oidc~root"):
            data = _json.dumps(body).encode() if body is not None else None
            r = urllib.request.Request(base + path, data=data, method=method)
            if data:
                r.add_header("Content-Type", "application/json")
            r.add_header("Authorization", f"Bearer {token}")
            with urllib.request.urlopen(r) as resp:
                raw = resp.read()
                return _json.loads(raw) if raw else None

        root = RestCatalogClient(base, token="oidc~root")
        root.create_warehouse("wh", f"{tmp}/warehouse")
        root.create_namespace("wh", ["ns"])
        src = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        root.create_table("wh", ["ns"], "t", struct_to_schema(src.schema))
        with cat.acting_as("oidc~root"):
            SparkTable(spark, cat, "wh", ["ns"], "t").append(src.limit(1))

        # --- provision users from source keys (deterministic population)
        keys = [
            r["c_custkey"]
            for r in src.orderBy("c_custkey").limit(20).collect()
        ]
        for k in keys:
            req(
                "POST",
                "/management/v1/user",
                {
                    "id": f"oidc~c{k}",
                    "name": f"Customer {k}",
                    "user-type": "human" if k % 2 else "application",
                },
            )
        # 409 on re-provision without update-if-exists
        try:
            req("POST", "/management/v1/user",
                {"id": f"oidc~c{keys[0]}", "name": "X",
                 "user-type": "human"})
            conflict = 0
        except urllib.error.HTTPError as e:
            conflict = int(e.code == 409)
        rows.append(("conflict_refused", conflict))
        # self-provisioning: id + identity from the acting principal
        me = req("POST", "/management/v1/user", {}, token="oidc~selfie")
        rows.append(
            ("self_provisioned", int(me["user"]["id"] == "oidc~selfie"))
        )

        # --- roles: CRUD + membership + inheritance ---------------------
        readers = req("POST", "/management/v1/role", {"name": "readers"})
        power = req("POST", "/management/v1/role", {"name": "power"})
        inner = req("POST", "/management/v1/role", {"name": "inner"})
        req("POST", "/management/v1/role",
            {"name": "idp-group", "provider-id": "oidc",
             "source-id": "grp-1"})
        dev_id = f"oidc~c{keys[0]}"
        req("POST", f"/management/v1/role/{readers['id']}/members",
            {"members": [{"type": "user", "id": dev_id}]})
        # role-to-role chain: inner -> power (power has inner as member)
        req("POST", f"/management/v1/role/{power['id']}/members",
            {"members": [{"type": "role", "id": inner["id"]}]})
        req("POST", f"/management/v1/role/{inner['id']}/members",
            {"members": [{"type": "user", "id": dev_id}]})
        trans = req(
            "GET", f"/management/v1/user/{dev_id}/roles/transitive"
        )
        # direct: readers + inner; transitive adds power — count the
        # roles BEYOND the direct grant the closure discovered
        direct = req("GET", f"/management/v1/user/{dev_id}/roles")
        rows.append(
            ("transitive_roles",
             len(trans["roles"]) - len(direct["roles"]) + 1)
        )
        # cycle: power -> inner exists, so inner cannot absorb power
        try:
            req("POST", f"/management/v1/role/{inner['id']}/members",
                {"members": [{"type": "role", "id": power["id"]}]})
            cycle = 0
        except urllib.error.HTTPError as e:
            cycle = int(
                e.code == 400 and "RoleMembershipCycle" in e.read().decode()
            )
        rows.append(("cycle_refused", cycle))

        # --- the grant is live for table actions over HTTP --------------
        dev = RestCatalogClient(base, token=dev_id)
        meta, _ = dev.load_table("wh", ["ns"], "t")
        rows.append(("grant_allows_load", int(bool(meta["table-uuid"]))))
        req("DELETE",
            f"/management/v1/role/{readers['id']}/members/user/{dev_id}")
        try:
            dev.load_table("wh", ["ns"], "t")
            denied = 0
        except AuthorizationError:
            denied = 1
        rows.append(("revoke_denies_load", denied))

        # --- user delete drops assignments -------------------------------
        victim = f"oidc~c{keys[1]}"
        req("POST", f"/management/v1/role/{readers['id']}/members",
            {"members": [{"type": "user", "id": victim}]})
        req("DELETE", f"/management/v1/user/{victim}")
        members = req("GET", f"/management/v1/role/{readers['id']}/members")
        rows.append(
            ("deleted_user_loses_roles",
             int(victim not in {m["id"] for m in members["members"]}))
        )

        # --- Spark rollups over the HTTP listings ------------------------
        # (warehouse-statistics pattern: counts per type/provider)
        users = req("GET", "/management/v1/user?pageSize=1000")["users"]
        by_type = {
            r["user_type"]: r["n"]
            for r in local_df(spark, 
                [(u["user-type"],) for u in users], "user_type string"
            )
            .groupBy("user_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # selfie (application) and the deleted victim adjust the raw
        # parity counts: report the SOURCE-derived population only
        victim_human = keys[1] % 2 == 1
        rows.append(
            ("users_human",
             by_type.get("human", 0) + (1 if victim_human else 0))
        )
        rows.append(
            ("users_application",
             by_type.get("application", 0) - 1
             + (0 if victim_human else 1))
        )
        roles = req("GET", "/management/v1/role?pageSize=1000")["roles"]
        by_provider = {
            r["provider_id"]: r["n"]
            for r in local_df(spark, 
                [(x["provider-id"],) for x in roles], "provider_id string"
            )
            .groupBy("provider_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows.append(("roles_lakekeeper", by_provider.get("lakekeeper", 0)))
        rows.append(("roles_oidc", by_provider.get("oidc", 0)))
    finally:
        server.stop()
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c18: warehouse lifecycle management — fleet driven over HTTP, Spark rollup
# --------------------------------------------------------------------------
# The reference's warehouse management surface beyond create/list
# (api/management/v1/warehouse/mod.rs; postgres warehouse.rs):
# GetWarehouse response shape, rename (active-only, warehouse.rs:586),
# activate/deactivate with the data-plane active gate
# (require_active_warehouse, server/tables.rs:2054), per-warehouse
# delete-profile and format-version-policy updates, warehouse protection,
# the three delete guards (unfinished tasks / not-empty / protected —
# warehouse.rs:530-585), ListDeletedTabulars with expiration dates
# (mod.rs:1560-1640), and BatchCheckActions (check.rs:243). A 25-warehouse
# fleet derives deterministically from the nation table; the final
# status/protected/renamed counts roll up via a Spark groupBy over the
# HTTP listing and must equal the oracle's arithmetic over nation keys.
@register(
    "c18_warehouse_lifecycle",
    oracle="""
SELECT * FROM (
  SELECT 'batch_check_allowed' AS checkpoint, 4 AS value
  UNION ALL SELECT 'delete_refused_nonempty', 1
  UNION ALL SELECT 'delete_refused_protected', 1
  UNION ALL SELECT 'delete_refused_tasks', 1
  UNION ALL SELECT 'deleted_tabulars', 3
  UNION ALL SELECT 'expiration_window_ok', 1
  UNION ALL SELECT 'force_delete_ok', 1
  UNION ALL SELECT 'format_gate_refused', 1
  UNION ALL SELECT 'inactive_config_404', 1
  UNION ALL SELECT 'wh_active',
    (SELECT COUNT(*) FROM nation WHERE n_nationkey % 3 <> 0)
  UNION ALL SELECT 'wh_inactive',
    (SELECT COUNT(*) FROM nation WHERE n_nationkey % 3 = 0)
  UNION ALL SELECT 'wh_protected',
    (SELECT COUNT(*) FROM nation WHERE n_nationkey % 5 = 0)
  UNION ALL SELECT 'wh_renamed',
    (SELECT COUNT(*) FROM nation
      WHERE n_nationkey % 7 = 0 AND n_nationkey % 3 <> 0)
  UNION ALL SELECT 'wh_total', (SELECT COUNT(*) FROM nation)
) ORDER BY checkpoint
""",
    description="Warehouse lifecycle management API (warehouse/mod.rs; "
    "postgres warehouse.rs): a 25-warehouse fleet from nation keys — "
    "rename (active-only), deactivate gates the data plane (404 "
    "WarehouseNotActive), protection + the three delete guards "
    "(unfinished tasks, not-empty, protected vs force), delete-profile "
    "and format-version-policy updates with the commit-side gate, "
    "ListDeletedTabulars expiration dates, BatchCheckActions; "
    "status/protected/renamed counts rolled up via Spark groupBy over "
    "the HTTP listing.",
    tags=("catalog", "warehouse", "rest", "lifecycle"),
)
def c18_warehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import urllib.error
    import urllib.request

    from ..catalog.catalog import Catalog, _parse_rfc3339_ms
    from ..catalog.metastore import Metastore
    from ..rest import RestCatalogClient, RestCatalogServer

    tmp = tempfile.mkdtemp(prefix="lkspark_whlife_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    server = RestCatalogServer(cat).start()
    rows: list[tuple[str, int]] = []
    try:
        base = server.url
        client = RestCatalogClient(base)

        def req(method: str, path: str, body=None):
            data = _json.dumps(body).encode() if body is not None else None
            r = urllib.request.Request(base + path, data=data, method=method)
            if data:
                r.add_header("Content-Type", "application/json")
            with urllib.request.urlopen(r) as resp:
                raw = resp.read()
                return _json.loads(raw) if raw else None

        schema = {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False}
            ],
        }

        # --- the fleet: one warehouse per nation key ----------------------
        keys = sorted(
            r["n_nationkey"]
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey")
            .collect()
        )
        names = {k: f"wh_n{k:02d}" for k in keys}
        for k in keys:
            req(
                "POST",
                "/management/v1/warehouse",
                {
                    "warehouse-name": names[k],
                    "storage-profile": {
                        "type": "local",
                        "location": f"{tmp}/{names[k]}",
                    },
                    "delete-profile": {
                        "type": "soft",
                        "expiration-seconds": 3600 + k,
                    },
                },
            )
        # rename while active (deactivation below would 404 the rename,
        # warehouse.rs:586 UPDATE ... AND status='active')
        for k in keys:
            if k % 7 == 0 and k % 3 != 0:
                req(
                    "POST",
                    f"/management/v1/warehouse/{names[k]}/rename",
                    {"new-name": names[k] + "x"},
                )
                names[k] += "x"
        for k in keys:
            if k % 3 == 0:
                req(
                    "POST",
                    f"/management/v1/warehouse/{names[k]}/deactivate",
                    {},
                )
        for k in keys:
            if k % 5 == 0:
                req(
                    "POST",
                    f"/management/v1/warehouse/{names[k]}/protection",
                    {"protected": True},
                )

        # data plane + config resolution 404 on an inactive warehouse
        inactive = names[3]
        try:
            req("GET", f"/catalog/v1/config?warehouse={inactive}")
            gate = 0
        except urllib.error.HTTPError as e:
            gate = int(e.code == 404)
        rows.append(("inactive_config_404", gate))

        # --- guard warehouse: the three delete refusals -------------------
        req(
            "POST",
            "/management/v1/warehouse",
            {
                "warehouse-name": "whguard",
                "storage-profile": {
                    "type": "local",
                    "location": f"{tmp}/whguard",
                },
                "delete-profile": {"type": "soft", "expiration-seconds": 60},
            },
        )
        client.create_namespace("whguard", ["ns"])
        client.create_table("whguard", ["ns"], "t", schema)

        # BatchCheckActions while the table exists (AllowAll -> 4/4)
        checks = req(
            "POST",
            "/management/v1/action/batch-check",
            {
                "checks": [
                    {"operation": {"action": "delete",
                                   "warehouse-id": "whguard"}},
                    {"operation": {"action": "read-data",
                                   "table": {"warehouse-id": "whguard",
                                             "namespace": ["ns"],
                                             "name": "t"}}},
                    {"operation": {"action": "get-metadata",
                                   "namespace": {"warehouse-id": "whguard",
                                                 "namespace": ["ns"]}}},
                    {"operation": {"action": "create-project"}},
                ]
            },
        )
        rows.append(
            ("batch_check_allowed",
             sum(1 for r in checks["results"] if r["allowed"]))
        )

        def expect_refused(substr: str):
            try:
                req("DELETE", "/management/v1/warehouse/whguard")
                return 0
            except urllib.error.HTTPError as e:
                return int(substr in e.read().decode())

        rows.append(("delete_refused_nonempty",
                     expect_refused("WarehouseNotEmpty")))
        # a soft drop leaves a pending expiration task -> tasks guard
        client.drop_table("whguard", ["ns"], "t")
        rows.append(("delete_refused_tasks",
                     expect_refused("tabular_expiration")))
        client.undrop_table("whguard", ["ns"], "t")
        # hard profile empties without queueing
        req(
            "POST",
            "/management/v1/warehouse/whguard/delete-profile",
            {"delete-profile": {"type": "hard"}},
        )
        client.drop_table("whguard", ["ns"], "t")
        client.drop_namespace("whguard", ["ns"])
        req("POST", "/management/v1/warehouse/whguard/protection",
            {"protected": True})
        rows.append(("delete_refused_protected",
                     expect_refused("WarehouseProtected")))
        req("DELETE", "/management/v1/warehouse/whguard?force=true")
        try:
            req("GET", "/management/v1/warehouse/whguard")
            gone = 0
        except urllib.error.HTTPError as e:
            gone = int(e.code == 404)
        rows.append(("force_delete_ok", gone))

        # --- format-version policy gates table creation -------------------
        req(
            "POST",
            "/management/v1/warehouse",
            {
                "warehouse-name": "whfmt",
                "storage-profile": {"type": "local",
                                    "location": f"{tmp}/whfmt"},
                "allowed-format-versions": [1, 2],
            },
        )
        client.create_namespace("whfmt", ["ns"])
        try:
            client.create_table("whfmt", ["ns"], "t3", schema,
                                format_version=3)
            refused = 0
        except Exception:
            refused = 1
        rows.append(("format_gate_refused", refused))

        # --- deleted tabulars with expiration dates ------------------------
        req(
            "POST",
            "/management/v1/warehouse",
            {
                "warehouse-name": "whdel",
                "storage-profile": {"type": "local",
                                    "location": f"{tmp}/whdel"},
                "delete-profile": {"type": "soft",
                                   "expiration-seconds": 7200},
            },
        )
        client.create_namespace("whdel", ["ns"])
        for t in ("t1", "t2", "t3"):
            client.create_table("whdel", ["ns"], t, schema)
            client.drop_table("whdel", ["ns"], t)
        deleted = req(
            "GET", "/management/v1/warehouse/whdel/deleted-tabulars"
        )["tabulars"]
        rows.append(("deleted_tabulars", len(deleted)))
        window_ok = all(
            abs(
                _parse_rfc3339_ms(d["expiration-date"])
                - _parse_rfc3339_ms(d["deleted-at"])
                - 7_200_000
            )
            < 10_000
            for d in deleted
        )
        rows.append(("expiration_window_ok", int(window_ok)))

        # --- Spark rollup over the HTTP listing ---------------------------
        listing = req(
            "GET",
            "/management/v1/warehouse?warehouseStatus=active,inactive",
        )["warehouses"]
        fleet = (
            local_df(spark, 
                [
                    (w["name"], w["status"], bool(w["protected"]))
                    for w in listing
                ],
                "name string, status string, protected boolean",
            )
            # scratch warehouses (whfmt/whdel) are not part of the fleet
            .filter(F.col("name").startswith("wh_n"))
        )
        agg = fleet.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("status") == "active", 1).otherwise(0)).alias(
                "active"
            ),
            F.sum(
                F.when(F.col("status") == "inactive", 1).otherwise(0)
            ).alias("inactive"),
            F.sum(F.when(F.col("protected"), 1).otherwise(0)).alias(
                "protected"
            ),
            F.sum(
                F.when(F.col("name").endswith("x"), 1).otherwise(0)
            ).alias("renamed"),
        ).collect()[0]
        rows.append(("wh_total", agg["total"]))
        rows.append(("wh_active", agg["active"]))
        rows.append(("wh_inactive", agg["inactive"]))
        rows.append(("wh_protected", agg["protected"]))
        rows.append(("wh_renamed", agg["renamed"]))
    finally:
        server.stop()
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c19: fine-grained grants (OpenFGA semantics) — population-scale checks
# --------------------------------------------------------------------------
# The reference's authz-openfga surface (authz-openfga/src/api.rs;
# semantics docs/docs/authorization-openfga.md): assignments written over
# HTTP, describe<select<modify implication, top-down inheritance from
# warehouse grants, the pass_grants/managed-access grant-plane rules, and
# BatchCheckActions as the decision probe. A 20-principal population
# derives from supplier keys; grant placement is keyed on divisibility so
# the DuckDB oracle can recompute every expected decision count from the
# supplier table alone. Decision rollups run through a Spark groupBy over
# the batch-check results.
@register(
    "c19_fga_grants",
    oracle="""
WITH pop AS (
  SELECT s_suppkey AS k FROM supplier ORDER BY s_suppkey LIMIT 20
)
SELECT * FROM (
  SELECT 'bottom_up_list' AS checkpoint, 1 AS value
  UNION ALL SELECT 'managed_access_strips_owner', 1
  UNION ALL SELECT 'pass_grants_rule', 1
  UNION ALL SELECT 'read_a_allowed',
    (SELECT COUNT(*) FROM pop WHERE k % 2 = 0 OR k % 7 = 0)
  UNION ALL SELECT 'meta_b_allowed',
    (SELECT COUNT(*) FROM pop WHERE k % 3 = 0 OR k % 7 = 0)
  UNION ALL SELECT 'write_a_allowed',
    (SELECT COUNT(*) FROM pop WHERE k % 7 = 0)
  UNION ALL SELECT 'fully_denied',
    (SELECT COUNT(*) FROM pop
      WHERE k % 2 <> 0 AND k % 3 <> 0 AND k % 7 <> 0)
) ORDER BY checkpoint
""",
    description="Fine-grained authorization (authz-openfga parity, "
    "docs/authorization-openfga.md): 20 principals from supplier keys, "
    "select/describe/modify assignments placed by divisibility over the "
    "permissions API, decisions probed via BatchCheckActions and rolled "
    "up with Spark — read/write/metadata allowed counts match the "
    "oracle's arithmetic; plus pass_grants, managed-access owner "
    "stripping, and bottom-up navigational listing checkpoints.",
    tags=("catalog", "authz", "fga", "rest"),
)
def c19_fga_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import urllib.error
    import urllib.request

    from ..catalog.catalog import Catalog
    from ..catalog.fga import FgaAuthorizer
    from ..catalog.metastore import Metastore
    from ..rest import RestCatalogClient, RestCatalogServer

    tmp = tempfile.mkdtemp(prefix="lkspark_fga_")
    store = Metastore(f"{tmp}/metastore.db")
    cat = Catalog(store, authorizer=FgaAuthorizer(store, admins={"root"}))
    server = RestCatalogServer(cat).start()
    rows: list[tuple[str, int]] = []
    schema = {
        "type": "struct",
        "fields": [{"id": 1, "name": "id", "type": "long", "required": False}],
    }
    try:
        base = server.url
        root = RestCatalogClient(base, token="root")

        def req(method: str, path: str, body=None, token="root"):
            data = _json.dumps(body).encode() if body is not None else None
            r = urllib.request.Request(base + path, data=data, method=method)
            if data:
                r.add_header("Content-Type", "application/json")
            r.add_header("Authorization", f"Bearer {token}")
            with urllib.request.urlopen(r) as resp:
                raw = resp.read()
                return _json.loads(raw) if raw else None

        root.create_warehouse("wh", f"{tmp}/wh")
        root.create_namespace("wh", ["nsa"])
        root.create_namespace("wh", ["nsb"])
        root.create_table("wh", ["nsa"], "ta", schema)
        root.create_table("wh", ["nsb"], "tb", schema)

        keys = [
            r["s_suppkey"]
            for r in load_table(spark, sf_dir, "supplier")
            .select("s_suppkey")
            .orderBy("s_suppkey")
            .limit(20)
            .collect()
        ]
        # grant placement keyed on divisibility (oracle-recomputable):
        #   k%2==0 -> select on namespace nsa (inherits to table ta)
        #   k%3==0 -> describe on table tb
        #   k%7==0 -> modify on the WAREHOUSE (inherits everywhere)
        for k in keys:
            uid = f"oidc~s{k}"
            if k % 2 == 0:
                req("POST",
                    "/management/v1/permissions/warehouse/wh/namespace/nsa"
                    "/assignments",
                    {"writes": [{"type": "select", "user": uid}]})
            if k % 3 == 0:
                req("POST",
                    "/management/v1/permissions/warehouse/wh/table/nsb/tb"
                    "/assignments",
                    {"writes": [{"type": "describe", "user": uid}]})
            if k % 7 == 0:
                req("POST",
                    "/management/v1/permissions/warehouse/wh/assignments",
                    {"writes": [{"type": "modify", "user": uid}]})

        # --- decision probes via BatchCheckActions -----------------------
        checks = []
        for k in keys:
            uid = f"oidc~s{k}"
            checks.extend([
                {"id": f"read_a:{k}", "identity": {"user": uid},
                 "operation": {"action": "read-data",
                               "table": {"warehouse-id": "wh",
                                         "namespace": ["nsa"],
                                         "name": "ta"}}},
                {"id": f"write_a:{k}", "identity": {"user": uid},
                 "operation": {"action": "write-data",
                               "table": {"warehouse-id": "wh",
                                         "namespace": ["nsa"],
                                         "name": "ta"}}},
                {"id": f"meta_b:{k}", "identity": {"user": uid},
                 "operation": {"action": "get-metadata",
                               "table": {"warehouse-id": "wh",
                                         "namespace": ["nsb"],
                                         "name": "tb"}}},
            ])
        results = req("POST", "/management/v1/action/batch-check",
                      {"checks": checks})["results"]

        # --- Spark rollup of the decision matrix --------------------------
        decisions = local_df(spark, 
            [
                (r["id"].split(":")[0], int(r["id"].split(":")[1]),
                 bool(r["allowed"]))
                for r in results
            ],
            "probe string, k long, allowed boolean",
        )
        agg = {
            r["probe"]: r["n"]
            for r in decisions.filter(F.col("allowed"))
            .groupBy("probe")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows.append(("read_a_allowed", agg.get("read_a", 0)))
        rows.append(("write_a_allowed", agg.get("write_a", 0)))
        rows.append(("meta_b_allowed", agg.get("meta_b", 0)))
        denied = (
            decisions.groupBy("k")
            .agg(F.max(F.when(F.col("allowed"), 1).otherwise(0)).alias("any"))
            .filter(F.col("any") == 0)
            .count()
        )
        rows.append(("fully_denied", denied))

        # --- grant-plane checkpoints --------------------------------------
        # pass_grants: a select+pass_grants holder passes select on, but
        # cannot hand out modify or the grant plane (doc line 59)
        req("POST",
            "/management/v1/permissions/warehouse/wh/namespace/nsa"
            "/assignments",
            {"writes": [{"type": "pass_grants", "user": "oidc~passer"},
                        {"type": "select", "user": "oidc~passer"}]})
        req("POST",
            "/management/v1/permissions/warehouse/wh/namespace/nsa"
            "/assignments",
            {"writes": [{"type": "select", "user": "oidc~recipient"}]},
            token="oidc~passer")
        try:
            req("POST",
                "/management/v1/permissions/warehouse/wh/namespace/nsa"
                "/assignments",
                {"writes": [{"type": "modify", "user": "oidc~recipient"}]},
                token="oidc~passer")
            ok_pass = 0
        except urllib.error.HTTPError as e:
            ok_pass = int(e.code == 403)
        rows.append(("pass_grants_rule", ok_pass))

        # managed access strips the owner's grant plane (doc lines 72-78)
        req("POST",
            "/management/v1/permissions/warehouse/wh/table/nsa/ta"
            "/assignments",
            {"writes": [{"type": "ownership", "user": "oidc~owner"}]})
        req("POST",
            "/management/v1/permissions/warehouse/wh/managed-access",
            {"managed-access": True})
        try:
            req("POST",
                "/management/v1/permissions/warehouse/wh/table/nsa/ta"
                "/assignments",
                {"writes": [{"type": "select", "user": "oidc~leak"}]},
                token="oidc~owner")
            stripped = 0
        except urllib.error.HTTPError as e:
            stripped = int(e.code == 403)
        rows.append(("managed_access_strips_owner", stripped))

        # bottom-up navigation: a table grant lights up ONLY its ancestor
        # path in listings (doc line 67)
        lister = RestCatalogClient(base, token=f"oidc~s{keys[0]}")
        try:
            listed = lister.list_namespaces("wh")[0]
            names = {tuple(n) for n in listed}
        except Exception:
            names = set()
        expect = set()
        if keys[0] % 2 == 0 or keys[0] % 7 == 0:
            expect.add(("nsa",))
        if keys[0] % 3 == 0:
            expect.add(("nsb",))
        if keys[0] % 7 == 0:
            expect.add(("nsb",))
        rows.append(("bottom_up_list", int(names == expect)))
    finally:
        server.stop()
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# c20: v3 row lineage through the catalog lifecycle
# --------------------------------------------------------------------------
# Iceberg v3 row lineage end-to-end (reference persists the fields per
# table/snapshot: lakekeeper-storage-postgres migrations/
# 20250923102542_v3_support.sql, tabular/table/commit.rs:209-263): a v3
# table takes two appends (each a single SORTED file, so the row-id
# assignment is deterministic: file order == sort order), then a
# merge-on-read DELETE. _row_id must be stable across the delete
# (surviving rows keep their physical position) and
# _last_updated_sequence_number must identify which append wrote each
# row. The oracle reconstructs the expected lineage from the source
# table alone.


@register(
    "c20_row_lineage",
    oracle="""
WITH base AS (
  SELECT n_nationkey,
         ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rid
  FROM nation
),
both_batches AS (
  SELECT n_nationkey, rid AS row_id, 1 AS last_seq FROM base
  UNION ALL
  SELECT n_nationkey + 100 AS n_nationkey,
         rid + (SELECT COUNT(*) FROM nation) AS row_id,
         2 AS last_seq
  FROM base
)
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       CAST(row_id AS BIGINT) AS row_id,
       CAST(last_seq AS BIGINT) AS last_seq
FROM both_batches
WHERE n_nationkey % 5 <> 0
""",
    description="Iceberg v3 row lineage through the catalog: next-row-id "
    "on create, per-append first-row-id claims, _row_id + "
    "_last_updated_sequence_number on scan, stability across a "
    "merge-on-read DELETE. Deterministic because each append writes one "
    "sorted file (file position == sort rank); the oracle rebuilds the "
    "expected ids from the source table.",
    tags=("catalog", "icelite", "v3", "lineage"),
)
def c20_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable

    tmp = tempfile.mkdtemp(prefix="lkspark_c20_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["lineage"])
    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "n_nationkey", "type": "long", "required": False},
            {"id": 2, "name": "n_name", "type": "string", "required": False},
        ],
    }
    cat.create_table("wh", ["lineage"], "nations", schema, format_version=3)
    t = SparkTable(spark, cat, "wh", ["lineage"], "nations")
    src = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )
    # repartition(1) + sortWithinPartitions: exactly one file whose
    # physical row order IS the sort order (orderBy+coalesce can execute
    # the sort with collapsed parallelism but this form is contractual)
    one_file = src.repartition(1).sortWithinPartitions("n_nationkey")
    t.append(one_file)  # snapshot 1: ids [0, 25)
    t.append(  # snapshot 2: ids [25, 50)
        one_file.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"), "n_name"
        )
    )
    t.delete_where("n_nationkey % 5 = 0", mode="merge-on-read")
    return t.scan(row_lineage=True).select(
        "n_nationkey",
        F.col("_row_id").alias("row_id"),
        F.col("_last_updated_sequence_number").alias("last_seq"),
    )


# --------------------------------------------------------------------------
# c21: v3 default values through the catalog lifecycle
# --------------------------------------------------------------------------
# Iceberg v3 default values end-to-end: rows written BEFORE a column
# existed read its initial-default (not NULL), a writer that omits the
# column gets the write-default filled in, and explicitly-written values
# (including NULL) are stored as given. The oracle rebuilds the expected
# states from the source table alone.


@register(
    "c21_default_values",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       'unknown' AS region_name, CAST(0 AS BIGINT) AS score
FROM nation WHERE n_nationkey < 10
UNION ALL
SELECT CAST(n_nationkey + 100 AS BIGINT) AS n_nationkey,
       'unknown' AS region_name, CAST(50 AS BIGINT) AS score
FROM nation WHERE n_nationkey < 10
UNION ALL
SELECT CAST(n_nationkey + 200 AS BIGINT) AS n_nationkey,
       n_name AS region_name, CAST(n_regionkey AS BIGINT) AS score
FROM nation WHERE n_nationkey < 10
""",
    description="Iceberg v3 default values through the catalog: "
    "initial-default read-back for pre-existing rows, write-default for "
    "writer-omitted columns, explicit values stored as given — three "
    "appends around two ALTER TABLE ADD COLUMN ... DEFAULT steps, "
    "expected state reconstructed in SQL from the source table.",
    tags=("catalog", "icelite", "v3", "defaults"),
)
def c21_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable

    tmp = tempfile.mkdtemp(prefix="lkspark_c21_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["defaults"])
    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "n_nationkey", "type": "long", "required": False},
        ],
    }
    cat.create_table("wh", ["defaults"], "t", schema, format_version=3)
    t = SparkTable(spark, cat, "wh", ["defaults"], "t")
    src = load_table(spark, sf_dir, "nation").filter("n_nationkey < 10")
    keys = src.select(F.col("n_nationkey").cast("long").alias("n_nationkey"))
    t.append(keys)  # batch 1: before either column exists
    t.add_column("region_name", "string", initial_default="unknown")
    t.add_column("score", "long", initial_default=0, write_default=50)
    t.append(  # batch 2: writer omits both -> write-defaults
        keys.select((F.col("n_nationkey") + 100).alias("n_nationkey"))
    )
    t.append(  # batch 3: explicit values stored as given
        src.select(
            (F.col("n_nationkey").cast("long") + 200).alias("n_nationkey"),
            F.col("n_name").alias("region_name"),
            F.col("n_regionkey").cast("long").alias("score"),
        )
    )
    return t.scan().select("n_nationkey", "region_name", "score")


# --------------------------------------------------------------------------
# c22: metadata-only CDC planning via v3 row lineage
# --------------------------------------------------------------------------
# changelog_row_ids(): the (_row_id, change_type, commit ordinal) event
# stream planned WITHOUT opening data files — appends emit inserts from
# each file's claimed [first-row-id, +record-count) range and a
# tombstone-only MoR DELETE emits deletes from the bounded
# deleted-row-id-ranges its commit recorded in the snapshot summary
# (format/icelite.py changelog_row_ids/_row_id_ranges; the scorch-proof
# no-file-read guard lives in tests/test_row_lineage.py). At 100 TB this
# is the cheap half of lineage-native CDC: a consumer keeping a row-id
# watermark learns WHICH rows changed from metadata alone.


@register(
    "c22_lineage_cdc_plan",
    oracle="""
WITH base AS (
  SELECT n_nationkey,
         ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rid
  FROM nation
),
n AS (SELECT COUNT(*) AS c FROM nation)
SELECT CAST(rid AS BIGINT) AS row_id,
       'insert' AS change_type,
       CAST(1 AS BIGINT) AS commit_ord
FROM base
UNION ALL
SELECT CAST(rid + (SELECT c FROM n) AS BIGINT), 'insert', CAST(2 AS BIGINT)
FROM base
UNION ALL
SELECT CAST(rid AS BIGINT), 'delete', CAST(3 AS BIGINT)
FROM base WHERE n_nationkey % 5 = 0
UNION ALL
SELECT CAST(rid + (SELECT c FROM n) AS BIGINT), 'delete', CAST(3 AS BIGINT)
FROM base WHERE (n_nationkey + 100) % 5 = 0
""",
    description="Metadata-only CDC planning (v3 row lineage): two "
    "single-file appends then a merge-on-read DELETE; changelog_row_ids "
    "emits insert events from the files' claimed row-id ranges and "
    "delete events from the commit summary's deleted-row-id-ranges — no "
    "data file read. Snapshot ids map to commit ordinals for "
    "determinism; the oracle rebuilds the expected event stream from "
    "the source table.",
    tags=("catalog", "icelite", "v3", "lineage", "cdc"),
)
def c22_lineage_cdc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable

    tmp = tempfile.mkdtemp(prefix="lkspark_c22_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["cdc"])
    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "n_nationkey", "type": "long", "required": False},
            {"id": 2, "name": "n_name", "type": "string", "required": False},
        ],
    }
    cat.create_table("wh", ["cdc"], "nations", schema, format_version=3)
    t = SparkTable(spark, cat, "wh", ["cdc"], "nations")
    src = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )
    one_file = src.repartition(1).sortWithinPartitions("n_nationkey")
    t.append(one_file)  # commit 1: inserts, ids [0, n)
    t.append(  # commit 2: inserts, ids [n, 2n)
        one_file.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"), "n_name"
        )
    )
    t.delete_where("n_nationkey % 5 = 0", mode="merge-on-read")  # commit 3
    events = t.changelog_row_ids()
    # snapshot ids are generated; expose the deterministic commit ORDINAL
    meta = t.metadata()
    order = {
        s["snapshot-id"]: i + 1
        for i, s in enumerate(
            sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
        )
    }
    ord_map = F.create_map(
        *[F.lit(x) for kv in order.items() for x in kv]
    )
    return events.select(
        F.col("_row_id").alias("row_id"),
        F.col("_change_type").alias("change_type"),
        ord_map[F.col("_commit_snapshot_id")].cast("long").alias("commit_ord"),
    )


# --------------------------------------------------------------------------
# c23: manifest bloom-filter point-lookup pruning
# --------------------------------------------------------------------------
# File skipping for EQUALITY predicates where min/max bounds can't help:
# ids are written INTERLEAVED across files (every file's [min,max]
# overlaps every probe), the table property
# write.metadata.bloom-filter-columns attaches a per-file bloom to each
# manifest entry, and scan(point_filter=...) opens only the file(s)
# whose bloom might contain the probe. Inline plan guard: each probe
# must keep at most 2 of the 4 files (FPP allowance) — a no-op bloom
# would keep all 4 and fail the query, not just run slow. The
# scorch-proof (pruned files' bytes destroyed, scan still exact) lives
# in tests/test_bloom_skipping.py.


@register(
    "c23_bloom_point_lookup",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) % 4 AS b
  FROM orders WHERE o_orderkey % 100 < 2
),
keys AS (
  SELECT MIN(o_orderkey) AS k FROM src GROUP BY b
)
SELECT CAST(s.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(s.o_custkey AS BIGINT) AS o_custkey,
       s.o_totalprice AS o_totalprice
FROM src s JOIN keys ON s.o_orderkey = keys.k
""",
    description="Manifest bloom-filter point lookups: orders subset "
    "written as 4 files with INTERLEAVED ids (all bounds overlap), "
    "per-file blooms from the write.metadata.bloom-filter-columns "
    "property, one scan(point_filter=...) per probe key opening only "
    "the matching file (inline guard: <=2 of 4 entries survive each "
    "probe). Oracle rebuilds the probe keys and rows from the source "
    "table.",
    tags=("catalog", "icelite", "bloom", "pruning"),
)
def c23_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from functools import reduce

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable, _bloom_keep, snapshot_entries

    tmp = tempfile.mkdtemp(prefix="lkspark_c23_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bloom"])
    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_custkey", "type": "long", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double",
             "required": False},
        ],
    }
    cat.create_table(
        "wh", ["bloom"], "orders_bf", schema,
        properties={"write.metadata.bloom-filter-columns": "o_orderkey"},
    )
    t = SparkTable(spark, cat, "wh", ["bloom"], "orders_bf")
    from pyspark.sql.window import Window

    src = load_table(spark, sf_dir, "orders").filter(
        "o_orderkey % 100 < 2"
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    ).withColumn(
        # interleave by RANK, not raw key — TPC-H orderkeys are sparse
        # (whole mod classes can be empty); rank % 4 guarantees every
        # file holds an even id spread, so all bounds overlap and only
        # the bloom can discriminate at planning time
        "b",
        F.row_number().over(Window.orderBy("o_orderkey")) % 4,
    ).localCheckpoint(eager=True)
    # localCheckpoint: the bucketed sample feeds FIVE consumers (the
    # append's 4 branches + the probe-key aggregate) — one orders scan +
    # rank sort instead of five. The 4 interleaved files land in ONE
    # append: a union of 4 single-partition branches carries exactly 4
    # partitions (one per bucket, deterministically — union concatenates
    # partitions), so the writer emits the same 4 data files while the
    # write job, the bloom ndv pre-pass, the bitmap build and the commit
    # each run ONCE instead of four times.
    t.append(
        reduce(
            lambda a, c: a.unionByName(c),
            [src.filter(f"b = {b}").drop("b").coalesce(1) for b in range(4)],
        )
    )
    keys = [
        r.k
        for r in src.groupBy("b").agg(F.min("o_orderkey").alias("k")).collect()
    ]
    meta = t.metadata()
    snap = meta["snapshots"][-1]
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    parts = []
    for k in sorted(keys):
        probes = t._bloom_probes(cur, {"o_orderkey": int(k)})
        kept = [e for e in snapshot_entries(snap) if _bloom_keep(e, probes)]
        if len(kept) > 2:  # inline plan guard (1 expected; 2 = FPP slack)
            raise AssertionError(
                f"bloom pruning ineffective: {len(kept)}/4 files kept"
            )
        parts.append(
            t.scan(point_filter={"o_orderkey": int(k)}).filter(
                F.col("o_orderkey") == int(k)
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------------------------
# c24: lineage CDC over a CoW rewrite — the plan's targeted-diff branch
# --------------------------------------------------------------------------
# Round-15: a pure copy-on-write rewrite classifies as targeted-diff in
# plan_lineage_events (format/icelite.py) — delete events come from
# reading EXACTLY the removed files, never the parent state, and
# survivors re-emit as inserts with PRESERVED row ids (changelog
# parity). The inline plan guard fails the query if the commit falls
# back to the full changelog or names more than the one rewritten file.


@register(
    "c24_lineage_cdc_cow",
    oracle="""
WITH base AS (
  SELECT n_nationkey,
         ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rid
  FROM nation
),
n AS (SELECT COUNT(*) AS c FROM nation)
SELECT CAST(rid AS BIGINT) AS row_id,
       'insert' AS change_type,
       CAST(1 AS BIGINT) AS commit_ord
FROM base
UNION ALL
SELECT CAST(rid + (SELECT c FROM n) AS BIGINT), 'insert', CAST(2 AS BIGINT)
FROM base
UNION ALL
SELECT CAST(rid + (SELECT c FROM n) AS BIGINT), 'delete', CAST(3 AS BIGINT)
FROM base
UNION ALL
SELECT CAST(rid + (SELECT c FROM n) AS BIGINT), 'insert', CAST(3 AS BIGINT)
FROM base WHERE (n_nationkey + 100) % 5 <> 0
""",
    description="Lineage-native CDC across a copy-on-write rewrite: two "
    "single-file appends, then a CoW DELETE hitting only the second "
    "file; plan_lineage_events classifies the rewrite as targeted-diff "
    "(delete events from reading exactly the one removed file, "
    "survivors re-inserted with preserved row ids). Inline guard: the "
    "plan must NOT be content-fallback and must name exactly one "
    "removed file. Oracle rebuilds the full event stream from the "
    "source table.",
    tags=("catalog", "icelite", "v3", "lineage", "cdc", "cow"),
)
def c24_lineage_cdc_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable, plan_lineage_events

    tmp = tempfile.mkdtemp(prefix="lkspark_c24_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["cdc"])
    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "n_nationkey", "type": "long", "required": False},
            {"id": 2, "name": "n_name", "type": "string", "required": False},
        ],
    }
    cat.create_table("wh", ["cdc"], "nations_cow", schema, format_version=3)
    t = SparkTable(spark, cat, "wh", ["cdc"], "nations_cow")
    src = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )
    one_file = src.repartition(1).sortWithinPartitions("n_nationkey")
    t.append(one_file)  # commit 1: file A, ids [0, n)
    t.append(  # commit 2: file B, ids [n, 2n)
        one_file.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"), "n_name"
        )
    )
    # commit 3: CoW delete touching ONLY file B
    t.delete_where(
        "n_nationkey >= 100 AND n_nationkey % 5 = 0", mode="copy-on-write"
    )
    cow = plan_lineage_events(t.metadata())[-1]
    # targeted-diff must be set (content-fallback stays True alongside
    # it for round-14 consumers — the guard is the richer keys)
    if not cow.get("targeted-diff"):
        raise AssertionError(
            "CoW rewrite did not classify as targeted-diff: "
            f"{ {k: cow.get(k) for k in ('content-fallback', 'targeted-diff')} }"
        )
    if len(cow["delete-file-entries"]) != 1:
        raise AssertionError(
            "targeted diff must name exactly the one rewritten file, got "
            f"{len(cow['delete-file-entries'])}"
        )
    events = t.changelog_row_ids()
    meta = t.metadata()
    order = {
        s["snapshot-id"]: i + 1
        for i, s in enumerate(
            sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
        )
    }
    ord_map = F.create_map(
        *[F.lit(x) for kv in order.items() for x in kv]
    )
    return events.select(
        F.col("_row_id").alias("row_id"),
        F.col("_change_type").alias("change_type"),
        ord_map[F.col("_commit_snapshot_id")].cast("long").alias("commit_ord"),
    )


# --------------------------------------------------------------------------
# c25: Puffin statistics round-trip + ndv-informed planning input
# --------------------------------------------------------------------------
# The reference registers statistics files through SetStatistics /
# StatisticsFile with blob metadata (commit_tables.rs:130-156; puffin
# migrations 20241216114355 / 20250108131004). This row proves the
# REGISTERED artifact is a real, readable Puffin container end-to-end:
# ANALYZE computes exact per-column stats in one shuffle aggregate,
# commits SetStatistics, and the query re-reads the stats FROM THE
# PUFFIN FILE ON STORAGE (SparkTable.statistics() — never the metadata
# blob's copy), emitting per-column ndv / value counts / integral
# min-max plus the ndv-informed broadcast-side decision a planner would
# make from them. Every value has an exact DuckDB oracle.
@register(
    "c25_puffin_stats",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= {_ROWS}
),
st AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(l_orderkey) AS ok_count,
         COUNT(DISTINCT l_orderkey) AS ok_ndv,
         CAST(MIN(l_orderkey) AS BIGINT) AS ok_min,
         CAST(MAX(l_orderkey) AS BIGINT) AS ok_max,
         COUNT(l_returnflag) AS rf_count,
         COUNT(DISTINCT l_returnflag) AS rf_ndv
  FROM src
)
SELECT * FROM (
  SELECT 'broadcast_flag_side' AS checkpoint,
         CASE WHEN rf_ndv < ok_ndv THEN 1 ELSE 0 END AS value FROM st
  UNION ALL SELECT 'orderkey_max', ok_max FROM st
  UNION ALL SELECT 'orderkey_min', ok_min FROM st
  UNION ALL SELECT 'orderkey_ndv', ok_ndv FROM st
  UNION ALL SELECT 'orderkey_values', ok_count FROM st
  UNION ALL SELECT 'returnflag_ndv', rf_ndv FROM st
  UNION ALL SELECT 'returnflag_values', rf_count FROM st
  UNION ALL SELECT 'row_count', n_rows FROM st
  UNION ALL SELECT 'stats_files_registered', 1
) ORDER BY checkpoint
""",
    description="Puffin statistics interop: ANALYZE (exact mode) writes "
    "a real Puffin container of per-column stats blobs and commits it "
    "via SetStatistics; the query decodes the container from storage "
    "through the statistics() metadata table and emits ndv/value-count/"
    "min-max per column plus the ndv-informed broadcast-side decision — "
    "all exact vs the DuckDB oracle, proving the registered "
    "statistics-path round-trips byte-for-byte usable.",
    tags=("catalog", "icelite", "statistics", "puffin"),
)
def c25_puffin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    tmp = tempfile.mkdtemp(prefix="lkspark_c25_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["bench"])
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_ROWS)
        .repartition(4)
    )
    cat.create_table(
        "wh", ["bench"], "li_stats", struct_to_schema(src.schema)
    )
    t = SparkTable(spark, cat, "wh", ["bench"], "li_stats")
    t.append(src)
    t.analyze(exact=True)
    stats = {r["column"]: r for r in t.statistics().collect()}
    ok, rf = stats["l_orderkey"], stats["l_returnflag"]
    n_registered = len(t.metadata().get("statistics", []))
    rows = [
        # the planning decision ndv stats exist to inform: broadcast the
        # lower-ndv (smaller dictionary) side — read from the PUFFIN
        ("broadcast_flag_side", 1 if rf["ndv"] < ok["ndv"] else 0),
        ("orderkey_max", ok["max_long"]),
        ("orderkey_min", ok["min_long"]),
        ("orderkey_ndv", ok["ndv"]),
        ("orderkey_values", ok["value_count"]),
        ("returnflag_ndv", rf["ndv"]),
        ("returnflag_values", rf["value_count"]),
        ("row_count", ok["row_count"]),
        ("stats_files_registered", n_registered),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )
