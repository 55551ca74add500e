"""icelite table-format tests: the engine-side operator surface of
SURVEY.md §2.1 (append/scan, MERGE, DELETE, schema/partition evolution,
tags/branches/time-travel, compaction, metadata tables) driven through a
real SparkSession, mirroring reference test_spark.py scenarios."""

from __future__ import annotations

import os
import time

import pytest

from lakekeeper_spark.catalog.catalog import CommitFailedException
from lakekeeper_spark.format.iceberg_manifests import write_manifest_file
from lakekeeper_spark.format.icelite import SparkTable, snapshot_entries
from lakekeeper_spark.format.types import struct_to_schema


@pytest.fixture()
def table(spark, catalog):
    catalog.create_namespace("wh", ["ns"])
    df = spark.createDataFrame(
        [(1, 1.2, "foo"), (2, 2.2, "bar")], "my_ints int, my_floats double, strings string"
    )
    # canonical 3-column fixture (reference test_spark.py:46-47)
    catalog.create_table("wh", ["ns"], "my_table", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["ns"], "my_table")
    t.append(df)
    return t


def test_create_insert_select(table):
    rows = sorted(table.scan().collect())
    assert [(r.my_ints, r.my_floats, r.strings) for r in rows] == [
        (1, 1.2, "foo"),
        (2, 2.2, "bar"),
    ]


def test_empty_table_scan_has_schema(spark, catalog):
    # test_spark.py:473-480 (write/read empty table)
    catalog.create_namespace("wh", ["ns2"])
    df = spark.createDataFrame([], "id int, s string")
    catalog.create_table("wh", ["ns2"], "empty", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["ns2"], "empty")
    out = t.scan()
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "s"]


def test_append_accumulates_and_time_travel(table, spark):
    meta1 = table.metadata()
    snap1 = meta1["current-snapshot-id"]
    df2 = spark.createDataFrame([(3, 3.3, "baz")], "my_ints int, my_floats double, strings string")
    table.append(df2)
    assert table.scan().count() == 3
    # VERSION AS OF snapshot id (test_spark.py:1305-1312)
    assert table.scan(snapshot_id=snap1).count() == 2
    # TIMESTAMP AS OF
    ts1 = next(s for s in table.metadata()["snapshots"] if s["snapshot-id"] == snap1)[
        "timestamp-ms"
    ]
    assert table.scan(as_of_ms=ts1).count() == 2


def test_tags_and_branches(table, spark):
    # test_spark.py:647-707
    table.create_tag("v1", max_ref_age_ms=365 * 24 * 3600 * 1000)
    table.create_branch("dev")
    df = spark.createDataFrame([(9, 9.9, "dev-only")], "my_ints int, my_floats double, strings string")
    table.append(df, branch="dev")
    assert table.scan(ref="dev").count() == 3
    assert table.scan().count() == 2  # main unchanged
    assert table.scan(ref="v1").count() == 2
    refs = {r.name: r.type for r in table.refs().collect()}
    assert refs == {"main": "branch", "v1": "tag", "dev": "branch"}
    table.drop_ref("dev")
    assert "dev" not in table.metadata()["refs"]


def test_delete_from_rewrites_only_affected_files(table, spark):
    # seed a second file so one is untouched by the delete
    df2 = spark.createDataFrame(
        [(10, 0.1, "keepme")], "my_ints int, my_floats double, strings string"
    )
    table.append(df2)
    before_files = {e["path"] for s in [table.metadata()] for e in
                    snapshot_entries(next(x for x in s["snapshots"] if x["snapshot-id"] == s["current-snapshot-id"]))}
    table.delete_where("my_ints = 1")
    out = sorted(r.my_ints for r in table.scan().collect())
    assert out == [2, 10]
    after = table.metadata()
    snap = next(s for s in after["snapshots"] if s["snapshot-id"] == after["current-snapshot-id"])
    # the untouched file survives by reference, not rewrite
    assert any(p in before_files for p in {e["path"] for e in snapshot_entries(snap)})
    assert snap["summary"]["operation"] == "delete"


def test_update_where(table):
    table.update_where("strings = 'foo'", {"my_floats": "my_floats + 100"})
    rows = {r.strings: r.my_floats for r in table.scan().collect()}
    assert rows["foo"] == pytest.approx(101.2)
    assert rows["bar"] == pytest.approx(2.2)


def test_merge_matched_update_not_matched_insert(table, spark):
    # reference merge fixture (test_spark.py:155-172)
    src = spark.createDataFrame(
        [(1, 4.4, "c-string"), (5, 5.5, "e-string")],
        "my_ints int, my_floats double, strings string",
    )
    table.merge(
        src,
        on="t.my_ints = s.my_ints",
        matched_update={"my_floats": "s.my_floats", "strings": "s.strings"},
    )
    rows = {r.my_ints: (r.my_floats, r.strings) for r in table.scan().collect()}
    assert rows[1] == (4.4, "c-string")  # updated
    assert rows[2] == (2.2, "bar")  # untouched
    assert rows[5] == (5.5, "e-string")  # inserted


def test_schema_evolution_add_drop_column(table, spark):
    # test_spark.py:604-613
    table.add_column("my_bool", "boolean")
    df = spark.createDataFrame(
        [(7, 7.7, "new", True)], "my_ints int, my_floats double, strings string, my_bool boolean"
    )
    table.append(df)
    rows = {r.my_ints: r.my_bool for r in table.scan().collect()}
    assert rows[7] is True
    assert rows[1] is None  # old files read NULL for the new column
    table.drop_column("my_ints")
    cols = [f.name for f in table.scan().schema.fields]
    assert cols == ["my_floats", "strings", "my_bool"]


def test_partition_evolution_bucket_truncate(table, spark):
    # test_spark.py:616-644
    table.add_partition_field("my_ints", "bucket[16]")
    df = spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(20, 30)],
        "my_ints int, my_floats double, strings string",
    )
    table.append(df)
    table.add_partition_field("strings", "truncate[4]")
    df2 = spark.createDataFrame(
        [(100, 1.0, "abcdefgh")], "my_ints int, my_floats double, strings string"
    )
    table.append(df2)
    meta = table.metadata()
    assert len(meta["partition-specs"]) == 3
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    parts = [e["partition"] for e in snapshot_entries(snap) if e["partition"]]
    assert any("strings_truncate_4" in p for p in parts)
    assert table.scan().count() == 13
    # partition pruning by manifest filter
    pruned = table.scan(partition_filter={"strings_truncate_4": "abcd"})
    assert pruned.count() == 1


def test_rewrite_data_files_compaction(table, spark):
    # test_spark.py:710-738: N files -> 1
    for i in range(5):
        table.append(
            spark.createDataFrame([(50 + i, 0.5, "x")], "my_ints int, my_floats double, strings string")
        )
    n_before = table.files().count()
    assert n_before >= 6
    table.rewrite_data_files()
    assert table.files().count() == 1
    assert table.scan().count() == 7  # data intact


def test_expire_snapshots(table, spark):
    table.append(spark.createDataFrame([(3, 3.0, "c")], "my_ints int, my_floats double, strings string"))
    table.append(spark.createDataFrame([(4, 4.0, "d")], "my_ints int, my_floats double, strings string"))
    time.sleep(0.01)
    victims = table.expire_snapshots(older_than_ms=int(time.time() * 1000), retain_last=1)
    assert victims  # older snapshots removed
    assert table.scan().count() == 4  # current data unaffected
    assert len(table.metadata()["snapshots"]) == 1


def test_metadata_tables(table):
    assert table.files().count() >= 1
    snaps = table.snapshots().collect()
    assert snaps[0].operation == "append"
    assert table.history().count() >= 1
    assert {r.name for r in table.refs().collect()} == {"main"}


def test_all_metadata_tables(table, spark):
    """all_data_files / all_entries / all_manifests / metadata_log_entries
    / partitions (reference test_spark.py:1251-1280,
    test_metadata_queries_tables)."""
    ddl = "my_ints int, my_floats double, strings string"
    table.append(spark.createDataFrame([(3, 3.3, "c")], ddl))
    table.overwrite(spark.createDataFrame([(9, 9.9, "z")], ddl))
    meta = table.metadata()
    n_snapshots = len(meta["snapshots"])
    assert n_snapshots == 3
    # every snapshot contributes its manifest entries
    entries = table.all_entries().collect()
    assert {r.snapshot_id for r in entries} == {
        s["snapshot-id"] for s in meta["snapshots"]
    }
    assert len(entries) == sum(len(snapshot_entries(s)) for s in meta["snapshots"])
    # all_data_files: union of files across snapshots, distinct
    adf = table.all_data_files().collect()
    assert len({r.file_path for r in adf}) == len(adf)
    assert len(adf) >= table.files().count()
    # one or more REAL manifest files per snapshot (out-of-line store);
    # per-snapshot entry counts come from descriptor sums
    per_snap: dict[int, int] = {}
    for r in table.all_manifests().collect():
        per_snap[r.snapshot_id] = per_snap.get(r.snapshot_id, 0) + r.data_file_count
    assert set(per_snap) == {s["snapshot-id"] for s in meta["snapshots"]}
    for s in meta["snapshots"]:
        assert per_snap[s["snapshot-id"]] == len(snapshot_entries(s))
    # each commit after table creation archived the superseded metadata
    log = table.metadata_log_entries().collect()
    assert len(log) == n_snapshots  # one archived version per data commit
    import os

    for r in log:
        assert os.path.exists(r.file)
    # partitions: unpartitioned table -> single '{}' partition row
    parts = table.partitions().collect()
    assert len(parts) == 1
    assert parts[0].record_count == 1  # after overwrite


def test_metadata_log_pruned_to_previous_versions_max(table, spark):
    """write.metadata.previous-versions-max bounds the archived metadata
    files; expired ones are deleted from disk on the next commit
    (delete-after-commit default true; reference server/tables.rs:2083)."""
    import os

    table.catalog.commit_table(
        "wh",
        ["ns"],
        "my_table",
        [],
        [
            {
                "action": "set-properties",
                "updates": {"write.metadata.previous-versions-max": "3"},
            }
        ],
    )
    ddl = "my_ints int, my_floats double, strings string"
    for i in range(6):
        table.append(spark.createDataFrame([(10 + i, 1.0, "x")], ddl))
    meta = table.metadata()
    log = meta["metadata-log"]
    assert len(log) == 3
    mdir = os.path.join(meta["location"], "metadata")
    on_disk = [f for f in os.listdir(mdir) if f.endswith(".metadata.json")]
    assert sorted(on_disk) == sorted(os.path.basename(e["metadata-file"]) for e in log)


def test_concurrent_append_conflict_then_retry(table, spark, catalog):
    """Two writers race: the loser gets CommitFailedException (the
    reference's 409) and succeeds on retry with refreshed metadata."""
    meta_stale = table.metadata()  # writer B's stale view
    df = spark.createDataFrame([(8, 8.8, "w")], "my_ints int, my_floats double, strings string")
    table.append(df)  # writer A wins
    # writer B replays A-era requirements against the new state
    parent_id = meta_stale["refs"]["main"]["snapshot-id"]
    stale_head = next(s for s in meta_stale["snapshots"] if s["snapshot-id"] == parent_id)
    manifest = write_manifest_file(
        meta_stale,
        snapshot_entries(stale_head),
        999,
        stale_head["sequence-number"] + 1,
        os.path.join(meta_stale["location"], "metadata"),
    )
    with pytest.raises(CommitFailedException):
        catalog.commit_table(
            "wh",
            ["ns"],
            "my_table",
            [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": parent_id}],
            [
                {"action": "add-snapshot", "snapshot": {
                    "snapshot-id": 999, "timestamp-ms": 1, "manifests": [manifest],
                    "summary": {"operation": "append"}}},
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 999},
            ],
        )
    table.append(df)  # retry path succeeds
    assert table.scan().filter("my_ints = 8").count() == 2


def test_sort_order_applied_at_write(table, spark):
    """AddSortOrder/SetDefaultSortOrder -> subsequent writes produce
    per-file sorted data (sortWithinPartitions; Iceberg writer parity)."""
    import pyarrow.parquet as pq

    table.replace_sort_order(
        [{"source-name": "my_ints", "transform": "identity", "direction": "desc",
          "null-order": "nulls-last"}]
    )
    meta = table.metadata()
    assert meta["default-sort-order-id"] == 1
    ddl = "my_ints int, my_floats double, strings string"
    shuffled = spark.createDataFrame(
        [(5, 1.0, "e"), (3, 1.0, "c"), (9, 1.0, "i"), (1, 1.0, "a"), (7, 1.0, "g")], ddl
    ).coalesce(1)
    res = table.overwrite(shuffled)
    loc = table.metadata()["location"]
    for s in table.metadata()["snapshots"]:
        if s["snapshot-id"] != res["current-snapshot-id"]:
            continue
        for e in snapshot_entries(s):
            vals = pq.read_table(f"{loc}/{e['path']}", columns=["my_ints"])
            col = vals.column("my_ints").to_pylist()
            assert col == sorted(col, reverse=True), f"file {e['path']} not sorted"


def test_incremental_scan_changes(table, spark):
    """Incremental append scan: only rows from files added between the two
    snapshots (Iceberg incremental read semantics)."""
    ddl = "my_ints int, my_floats double, strings string"
    snap1 = table.metadata()["current-snapshot-id"]
    table.append(spark.createDataFrame([(10, 1.0, "x"), (11, 1.0, "y")], ddl))
    snap2 = table.metadata()["current-snapshot-id"]
    table.append(spark.createDataFrame([(12, 1.0, "z")], ddl))
    # snap1 -> snap2: exactly the second append's rows
    got = sorted(r.my_ints for r in table.scan_changes(snap1, snap2).collect())
    assert got == [10, 11]
    # snap1 -> current: second + third appends
    got = sorted(r.my_ints for r in table.scan_changes(snap1).collect())
    assert got == [10, 11, 12]
    # from creation: everything
    assert table.scan_changes(None).count() == 5
    # no new files between a snapshot and itself
    assert table.scan_changes(snap2, snap2).count() == 0


def test_analyze_commits_statistics(table, spark):
    """ANALYZE computes per-column stats in one aggregate and commits a
    StatisticsFile via SetStatistics."""
    ddl = "my_ints int, my_floats double, strings string"
    table.append(spark.createDataFrame([(7, 9.9, "zz")], ddl))
    stats = table.analyze()
    meta = table.metadata()
    assert meta["statistics"] and meta["statistics"][0]["snapshot-id"] == stats["snapshot-id"]
    by_col = {b["fields"][0]: b["properties"] for b in stats["blob-metadata"]}
    assert by_col["my_ints"]["row-count"] == 3
    assert by_col["my_ints"]["min"] == 1 and by_col["my_ints"]["max"] == 7
    assert by_col["my_floats"]["max"] == 9.9
    assert by_col["strings"]["ndv"] >= 2
    assert "min" not in by_col["strings"]  # non-numeric: counts/ndv only


def test_merge_composite_key(table, spark):
    """MERGE on a composite equi-key ('t.a = s.a AND t.b = s.b'); the
    source is never collected to the driver (semi-join file targeting)."""
    ddl = "my_ints int, my_floats double, strings string"
    src = spark.createDataFrame([(1, 1.2, "updated"), (9, 9.0, "inserted")], ddl)
    table.merge(
        src,
        on="t.my_ints = s.my_ints AND t.my_floats = s.my_floats",
        matched_update={"strings": "s.strings"},
    )
    rows = {r.my_ints: r.strings for r in table.scan().collect()}
    assert rows[1] == "updated"      # composite key matched (1, 1.2)
    assert rows[2] == "bar"          # untouched
    assert rows[9] == "inserted"     # not-matched insert


def test_table_properties_ddl(table):
    """SET/UNSET/SHOW TBLPROPERTIES (reference test_spark.py:483-500)."""
    table.set_properties({"write.metadata.previous-versions-max": "5", "owner": "me"})
    props = table.properties()
    assert props["owner"] == "me"
    table.unset_properties(["owner"])
    assert "owner" not in table.properties()
    assert table.properties()["write.metadata.previous-versions-max"] == "5"


def test_remove_orphan_files(table, spark):
    """Orphan detection: unreferenced files older than the threshold are
    removed; referenced and recent files survive; gc.enabled=false and
    encrypted tables refuse (reference docs/table-maintenance.md:57-100)."""
    import os

    from lakekeeper_spark.catalog.catalog import CatalogError

    loc = table.metadata()["location"]
    # simulate a failed write: stray parquet in data/, old mtime
    stray = os.path.join(loc, "data", "deadbeef", "stray.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"not really parquet")
    old = (os.path.getmtime(stray) - 10 * 24 * 3600)
    os.utime(stray, (old, old))
    # dry run reports, does not delete
    found = table.remove_orphan_files(dry_run=True)
    assert stray in found and os.path.exists(stray)
    # fresh stray is protected by the age filter
    fresh = os.path.join(loc, "data", "deadbeef", "fresh.parquet")
    with open(fresh, "wb") as f:
        f.write(b"in-progress write")
    removed = table.remove_orphan_files()
    assert stray in removed and not os.path.exists(stray)
    assert fresh not in removed and os.path.exists(fresh)
    # live data untouched
    assert table.scan().count() == 2
    # safety guards
    table.set_properties({"gc.enabled": "false"})
    with pytest.raises(CatalogError):
        table.remove_orphan_files()
    table.set_properties({"gc.enabled": "true", "encryption.key-id": "k1"})
    with pytest.raises(CatalogError):
        table.remove_orphan_files()


def test_ref_retention_max_ref_age(table, spark):
    """Tags past max-ref-age-ms stop pinning their snapshots: expiration
    drops the aged ref, then the snapshot it pinned (CREATE TAG ... RETAIN
    semantics, reference test_spark.py:647-676)."""
    ddl = "my_ints int, my_floats double, strings string"
    table.create_tag("ephemeral", max_ref_age_ms=1)  # pins snapshot 1
    table.create_tag("keeper")  # no retention: pins forever
    table.append(spark.createDataFrame([(3, 3.0, "c")], ddl))
    time.sleep(0.01)
    victims = table.expire_snapshots(older_than_ms=int(time.time() * 1000) + 1000,
                                     retain_last=1)
    meta = table.metadata()
    assert "ephemeral" not in meta["refs"]          # aged out
    assert "keeper" in meta["refs"]                 # unlimited retention
    # keeper still pins snapshot 1, so it survived expiration
    assert meta["refs"]["keeper"]["snapshot-id"] not in victims
    assert table.scan(ref="keeper").count() == 2


def test_rename_column_field_id_reads(table, spark):
    """RENAME COLUMN: old files written under the old name surface their
    data under the new name (field-id projection), new writes use the new
    name, DML still works across mixed-schema files."""
    table.rename_column("my_ints", "renamed_ints")
    cols = [f.name for f in table.scan().schema.fields]
    assert cols == ["renamed_ints", "my_floats", "strings"]
    # old files' data visible under the new name
    got = sorted(r.renamed_ints for r in table.scan().collect())
    assert got == [1, 2]
    # new write with the new name: mixed-schema scan unions by field id
    table.append(spark.createDataFrame(
        [(3, 3.3, "baz")], "renamed_ints int, my_floats double, strings string"))
    assert sorted(r.renamed_ints for r in table.scan().collect()) == [1, 2, 3]
    # DML across mixed-schema files
    table.delete_where("renamed_ints = 1")
    assert sorted(r.renamed_ints for r in table.scan().collect()) == [2, 3]
    table.update_where("renamed_ints = 2", {"strings": "'upd'"})
    assert {r.renamed_ints: r.strings for r in table.scan().collect()}[2] == "upd"


def test_widen_column_type_promotion(table, spark):
    """Iceberg type promotion: int->bigint across old int32 files; illegal
    narrowing rejected."""
    from lakekeeper_spark.catalog.catalog import CatalogError

    table.widen_column("my_ints", "bigint")
    assert dict(table.scan().dtypes)["my_ints"] == "bigint"
    assert sorted(r.my_ints for r in table.scan().collect()) == [1, 2]
    # new writes at the wide type coexist with old narrow files
    table.append(spark.createDataFrame(
        [(2**40, 4.4, "wide")], "my_ints bigint, my_floats double, strings string"))
    assert sorted(r.my_ints for r in table.scan().collect()) == [1, 2, 2**40]
    with pytest.raises(CatalogError):
        table.widen_column("my_floats", "float")  # narrowing forbidden


def test_append_auto_retries_commit_conflict(table, spark, monkeypatch):
    """A losing append rebases its manifest on the winner's snapshot and
    retries transparently (Iceberg writer behavior); both writers' rows
    land."""
    from lakekeeper_spark.catalog.catalog import CommitFailedException

    ddl = "my_ints int, my_floats double, strings string"
    real_commit = table.catalog.commit_table
    state = {"raced": False}

    def racing_commit(warehouse, levels, name, requirements, updates, **kw):
        # first commit attempt loses: a competing writer lands in between
        if not state["raced"] and any(
            u.get("action") == "add-snapshot" for u in updates
        ):
            state["raced"] = True
            t2 = SparkTable(spark, table.catalog, warehouse, levels, name)
            t2.append(spark.createDataFrame([(77, 7.0, "winner")], ddl))
        return real_commit(warehouse, levels, name, requirements, updates, **kw)

    monkeypatch.setattr(table.catalog, "commit_table", racing_commit)
    table.append(spark.createDataFrame([(88, 8.0, "loser-retried")], ddl))
    vals = sorted(r.my_ints for r in table.scan().collect())
    assert vals == [1, 2, 77, 88]  # both writers' rows present


def test_stats_filter_file_skipping(spark, catalog):
    """Min/max file skipping: range-clustered files whose bounds are
    disjoint with the filter never open; results stay exact."""
    from lakekeeper_spark.format.types import struct_to_schema

    catalog.create_namespace("wh", ["skipns"])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k int, s string")
    catalog.create_table("wh", ["skipns"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["skipns"], "t")
    # range-cluster into 4 files: k-bounds are disjoint per file
    t.append(df.repartitionByRange(4, "k"))
    entries = snapshot_entries(t.metadata()["snapshots"][0])
    assert len(entries) == 4
    assert all("k" in e["bounds"] for e in entries)
    # filter touching one file's range
    pruned = t.scan(stats_filter={"k": (10, 15)})
    rows = sorted(r.k for r in pruned.filter("k BETWEEN 10 AND 15").collect())
    assert rows == list(range(10, 16))
    # scan report proves files were skipped
    report = catalog.list_metrics_reports("wh", ["skipns"], "t")[-1]["report"]
    assert report["skipped-data-files"] >= 2
    assert report["result-data-files"] <= 2
    # a filter outside every file's range opens nothing
    assert t.scan(stats_filter={"k": (1000, 2000)}).count() == 0


def test_range_distribution_mode(spark, catalog):
    """write.distribution-mode=range + a sort order produces files with
    DISJOINT sort-key ranges; compaction still honors its file target."""
    from lakekeeper_spark.format.types import struct_to_schema

    catalog.create_namespace("wh", ["rdns"])
    df = spark.createDataFrame([(i, float(i)) for i in range(200)], "k int, v double")
    catalog.create_table("wh", ["rdns"], "t", struct_to_schema(df.schema),
                         properties={"write.distribution-mode": "range"})
    t = SparkTable(spark, catalog, "wh", ["rdns"], "t")
    t.replace_sort_order([{"source-name": "k", "transform": "identity",
                           "direction": "asc", "null-order": "nulls-first"}])
    t.append(df.repartition(5))  # deliberately unclustered input
    entries = list(snapshot_entries(t.metadata()["snapshots"][-1]))
    ranges = sorted((e["bounds"]["k"][0], e["bounds"]["k"][1]) for e in entries)
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file ranges must be disjoint under range distribution"
    # compaction overrides distribution with its explicit file target
    t.rewrite_data_files(target_files=1)
    assert t.files().count() == 1
    assert t.scan().count() == 200


def test_zorder_rewrite_clusters_both_columns(spark, catalog):
    """OPTIMIZE ZORDER: after a z-order rewrite into 4 files, every file
    covers a small hyper-rectangle - per-file bounds shrink on BOTH
    z-ordered columns (a plain sort only clusters the leading column)."""
    import random

    from lakekeeper_spark.format.types import struct_to_schema

    rng = random.Random(7)
    rows = [(rng.randrange(256), rng.randrange(256)) for _ in range(2000)]
    df = spark.createDataFrame(rows, "x int, y int")
    catalog.create_namespace("wh", ["zns"])
    catalog.create_table("wh", ["zns"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["zns"], "t")
    t.append(df.repartition(4))  # unclustered baseline
    t.rewrite_data_files(target_files=4, zorder_by=["x", "y"])
    meta = t.metadata()
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    assert snap["summary"]["zorder-by"] == ["x", "y"]
    entries = snapshot_entries(snap)
    assert len(entries) == 4
    for col in ("x", "y"):
        spans = [e["bounds"][col][1] - e["bounds"][col][0] for e in entries]
        # each file spans well under the global 0..255 range on BOTH dims
        assert sum(spans) / len(spans) <= 0.75 * 255, (col, spans)
    assert t.scan().count() == 2000  # data intact


def test_register_table_after_expiration(table, spark, catalog):
    """The reference's register_table scenario (test_spark.py:1157-1205):
    drop a table, let the soft-delete expire for real, then re-register it
    from its (still on-disk) metadata and read the data back."""
    from lakekeeper_spark.catalog.lifecycle import run_expiration_queue

    saved_meta, _ = catalog.load_table("wh", ["ns"], "my_table")
    catalog.drop_table("wh", ["ns"], "my_table")  # soft: data files stay
    catalog.store.execute("UPDATE tasks SET scheduled_ms = 0 WHERE status='pending'")
    assert run_expiration_queue(catalog) == 1
    assert not catalog.table_exists("wh", ["ns"], "my_table")
    # adopt the preserved metadata under a new name
    catalog.register_table("wh", ["ns"], "my_registered_table", saved_meta)
    t2 = SparkTable(spark, catalog, "wh", ["ns"], "my_registered_table")
    rows = sorted((r.my_ints, r.strings) for r in t2.scan().collect())
    assert rows == [(1, "foo"), (2, "bar")]


def test_partition_statistics_commit(table, spark):
    """analyze_partitions commits a PartitionStatisticsFile with manifest-
    derived per-partition counts (no data scan)."""
    table.add_partition_field("my_ints", "bucket[2]")
    ddl = "my_ints int, my_floats double, strings string"
    table.append(spark.createDataFrame([(i, 1.0, "p") for i in range(10)], ddl))
    stats = table.analyze_partitions()
    meta = table.metadata()
    assert meta["partition-statistics"][0]["snapshot-id"] == stats["snapshot-id"]
    total = sum(p["record-count"] for p in stats["partitions"])
    assert total == 12  # 2 fixture rows + 10 appended


def test_orphan_queue_opt_in_and_drain(table, spark, catalog):
    """Orphan scans are queue-driven and opt-in (reference
    table-maintenance.md): disabled by default, enabled per warehouse or
    per table, drained by the worker."""
    import os

    import pytest as _pytest

    from lakekeeper_spark.catalog.catalog import CatalogError
    from lakekeeper_spark.catalog.lifecycle import enqueue_orphan_scan, run_orphan_queue

    with _pytest.raises(CatalogError):
        enqueue_orphan_scan(catalog, "wh", ["ns"], "my_table")  # disabled
    # table-level override enables it
    table.set_properties({"lakekeeper.remove-orphan-files.enabled": "true"})
    loc = table.metadata()["location"]
    stray = os.path.join(loc, "data", "stray.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"junk")
    old = os.path.getmtime(stray) - 10 * 24 * 3600
    os.utime(stray, (old, old))
    tid = enqueue_orphan_scan(catalog, "wh", ["ns"], "my_table")
    assert tid > 0
    assert run_orphan_queue(catalog, spark) == 1
    assert not os.path.exists(stray)
    assert table.scan().count() == 2  # live data untouched


def test_scan_changes_survives_rename(table, spark):
    """Incremental reads use field-id projection too: files written before
    a RENAME COLUMN surface their data under the new name."""
    snap1 = table.metadata()["current-snapshot-id"]
    table.rename_column("my_ints", "ids")
    table.append(spark.createDataFrame(
        [(9, 9.9, "post")], "ids int, my_floats double, strings string"))
    # from creation: both pre- and post-rename files, new column name
    got = sorted(r.ids for r in table.scan_changes(None).collect())
    assert got == [1, 2, 9]
    # incremental from snap1: only the post-rename file
    assert sorted(r.ids for r in table.scan_changes(snap1).collect()) == [9]


def test_error_paths_and_edges(table, spark, catalog):
    """Error surfaces behave like the reference's 404/409 family."""
    from lakekeeper_spark.catalog.catalog import (
        CatalogError,
        NoSuchEntity,
    )

    # time travel to a snapshot that never existed
    with pytest.raises(NoSuchEntity):
        table.scan(snapshot_id=999999)
    # ref that does not exist
    with pytest.raises(NoSuchEntity):
        table.scan(ref="no-such-branch")
    # as-of before the first commit: empty frame with the schema
    early = table.scan(as_of_ms=1)
    assert early.count() == 0
    assert [f.name for f in early.schema.fields] == ["my_ints", "my_floats", "strings"]
    # rename to an existing column name
    with pytest.raises(CatalogError):
        table.rename_column("my_ints", "strings")
    # drop a column that does not exist
    with pytest.raises(NoSuchEntity):
        table.drop_column("ghost")
    # DML on a table with no data
    df = spark.createDataFrame([], "a int")
    from lakekeeper_spark.format.types import struct_to_schema

    catalog.create_namespace("wh", ["edge"])
    catalog.create_table("wh", ["edge"], "empty", struct_to_schema(df.schema))
    t2 = SparkTable(spark, catalog, "wh", ["edge"], "empty")
    with pytest.raises(CatalogError):
        t2.delete_where("a = 1")
    with pytest.raises(CatalogError):
        t2.rewrite_data_files()
    # partition_filter that matches nothing: empty result, correct schema
    pruned = table.scan(partition_filter={"nonexistent": "x"})
    assert pruned.count() == 0


def test_partition_column_with_space_and_special_chars(spark, catalog):
    """Reference test_spark.py:547/556: partitioning must work when the
    source COLUMN name contains a space, and the derived partition-field
    name may carry special characters."""
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    catalog.create_namespace("wh", ["pspace"])
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], ["id", "my col"]
    )
    catalog.create_table(
        "wh", ["pspace"], "t", struct_to_schema(df.schema)
    )
    t = SparkTable(spark, catalog, "wh", ["pspace"], "t")
    t.add_partition_field("my col", "identity", name="part:col")
    t.append(df)
    # all rows back, partition values recorded per file
    assert sorted(r["my col"] for r in t.scan().collect()) == ["a", "a", "b"]
    meta = t.metadata()
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    parts = [e["partition"] for e in snapshot_entries(snap) if e["partition"]]
    assert all("part:col" in p for p in parts)
    # partition-filter pruning on the special-char field name
    pruned = t.scan(partition_filter={"part:col": "a"})
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3]


def test_analyze_writes_real_puffin_and_parquet_stats(table, spark):
    """The registered statistics-path is a REAL Puffin container (spec
    framing decoded independently: magic / footer payload / flags) whose
    blob payloads round-trip the column stats; partition statistics land
    as the spec's parquet file."""
    import json
    import struct
    from pathlib import Path

    from lakekeeper_spark.format.puffin import MAGIC, read_puffin

    stats = table.analyze()
    p = Path(stats["statistics-path"])
    assert p.exists() and p.stat().st_size == stats["file-size-in-bytes"]
    raw = p.read_bytes()
    # independent framing check (not via read_puffin)
    assert raw[:4] == MAGIC and raw[-4:] == MAGIC
    assert raw[-8:-4] == b"\x00\x00\x00\x00"  # flags: uncompressed footer
    (size,) = struct.unpack("<i", raw[-12:-8])
    footer = json.loads(raw[-12 - size : -12].decode())
    assert {b["type"] for b in footer["blobs"]} == {
        "lakekeeper-spark-column-stats-v1"
    }
    blobs, props = read_puffin(str(p))
    by_field = {tuple(b["fields"]): json.loads(b["payload"].decode()) for b in blobs}
    meta_by_name = {
        b["fields"][0]: b["properties"] for b in stats["blob-metadata"]
    }
    # blob payloads mirror the committed blob-metadata properties, and
    # blob fields carry the schema FIELD IDS (how spec readers resolve)
    schema = table.metadata()["schemas"][-1]
    ids = {f["name"]: f["id"] for f in schema["fields"]}
    for name, properties in meta_by_name.items():
        assert by_field[(ids[name],)] == json.loads(
            json.dumps(properties, sort_keys=True)
        )
    assert props["created-by"] == "lakekeeper-spark analyze"

    pstats = table.analyze_partitions()
    pp = Path(pstats["statistics-path"])
    assert pp.suffix == ".parquet" and pp.exists()
    back = spark.read.parquet(str(pp)).collect()
    assert sum(r.record_count for r in back) == table.scan().count()


def test_operator_temp_columns_dont_shadow_user_columns(spark, catalog):
    """Round-15 hardening: operators that add WORKING columns to user
    frames pick fresh names (_fresh_names), so user columns named like
    the old literals — __src_match on a merge source, __upd_hit /
    __z on the table, _rn through the changelog pairing — survive with
    their own values instead of being silently replaced."""
    catalog.create_namespace("wh", ["tmpcol"])
    catalog.create_table(
        "wh", ["tmpcol"], "t",
        {
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "__upd_hit", "type": "string",
                 "required": False},
                {"id": 3, "name": "__z", "type": "long", "required": False},
                {"id": 4, "name": "_rn", "type": "long", "required": False},
            ],
        },
    )
    from lakekeeper_spark.format.icelite import SparkTable

    t = SparkTable(spark, catalog, "wh", ["tmpcol"], "t")
    t.append(spark.createDataFrame(
        [(i, f"h{i}", i * 10, i * 100) for i in range(6)],
        "id long, __upd_hit string, __z long, _rn long",
    ))
    # UPDATE: the user's __upd_hit column must keep its values where
    # the condition doesn't touch it, and take the SET value where it
    # does — never the boolean hit marker
    t.update_where("id = 2", {"__upd_hit": "'patched'"})
    vals = {r.id: r["__upd_hit"] for r in t.scan().collect()}
    assert vals[2] == "patched" and vals[3] == "h3"
    # MERGE with a source that carries its own __src_match column
    src = spark.createDataFrame(
        [(1, "m", 10, 100, 99), (50, "new", 500, 5000, 77)],
        "id long, __upd_hit string, __z long, _rn long, __src_match long",
    )
    t.merge(
        src,
        "t.id = s.id",
        matched_update={"__upd_hit": "s.__upd_hit"},
    )
    vals = {r.id: r["__upd_hit"] for r in t.scan().collect()}
    assert vals[1] == "m" and vals[50] == "new" and vals[4] == "h4"
    # Z-order rewrite: the user's __z column data must survive
    t.rewrite_data_files(target_files=1, zorder_by=["id"])
    zs = {r.id: r["__z"] for r in t.scan().collect()}
    assert zs[5] == 50
    # changelog update-pairing with a user _rn column present
    from lakekeeper_spark.format.icelite import pair_update_images

    cl = t.changelog(identifier_columns=["id"])
    rows = {(r.id, r._change_type): r["_rn"] for r in cl.collect()}
    assert rows[(2, "update_postimage")] == 200  # user _rn intact
    assert pair_update_images is not None


def test_merge_source_missing_added_column(spark, catalog):
    """Round-16 deep-stress find: MERGE after ADD COLUMN with a source
    that predates the new column must fill it with the write-default
    (or NULL) for inserted rows — SQL INSERT semantics for unspecified
    columns — not fail analysis. Both CoW and MoR paths."""
    from lakekeeper_spark.format.icelite import SparkTable as _ST

    schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    }
    for mode in ("copy-on-write", "merge-on-read"):
        nm = f"m_{mode[0]}"
        catalog.create_namespace("wh", [nm])
        catalog.create_table("wh", [nm], "t", schema, format_version=3)
        t = _ST(spark, catalog, "wh", [nm], "t")
        t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
        t.add_column("c0", "long", write_default=7)
        src = spark.createDataFrame(
            [(1, "upd"), (2, "new")], "id long, v string"  # no c0
        )
        t.merge(src, on="t.id = s.id", matched_update={"v": "s.v"}, mode=mode)
        rows = {r.id: (r.v, r.c0) for r in t.scan().collect()}
        assert rows[2] == ("new", 7)  # inserted row takes write-default
        assert rows[1][0] == "upd"
    # v2 (no defaults possible): the missing source column inserts NULL
    catalog.create_namespace("wh", ["m_v2"])
    catalog.create_table("wh", ["m_v2"], "t", schema, format_version=2)
    t = _ST(spark, catalog, "wh", ["m_v2"], "t")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.add_column("c0", "long")
    t.merge(
        spark.createDataFrame([(2, "new")], "id long, v string"),
        on="t.id = s.id",
    )
    rows = {r.id: r.c0 for r in t.scan().collect()}
    assert rows == {1: None, 2: None}


def test_merge_insert_required_and_case_insensitive(spark, catalog):
    """Review-2 fixes: a MERGE source omitting a REQUIRED no-default
    column is refused loudly (not silently NULL-filled), and a source
    column differing only in CASE resolves like Spark does instead of
    being replaced by the default."""
    import pytest

    from lakekeeper_spark.catalog.catalog import CatalogError
    from lakekeeper_spark.format.icelite import SparkTable as _ST

    catalog.create_namespace("wh", ["mreq"])
    catalog.create_table(
        "wh", ["mreq"], "t",
        {"schema-id": 0, "fields": [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": True},
        ]},
    )
    t = _ST(spark, catalog, "wh", ["mreq"], "t")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(CatalogError, match="required"):
        t.merge(
            spark.createDataFrame([(2,)], "id long"),  # no `v`
            on="t.id = s.id",
        )
    # case-insensitive source resolution: `V` supplies schema column `v`
    t.merge(
        spark.createDataFrame([(2, "b")], "id long, V string"),
        on="t.id = s.id",
    )
    rows = {r.id: r.v for r in t.scan().collect()}
    assert rows == {1: "a", 2: "b"}


@pytest.mark.parametrize("fv", [2, 3])
def test_location_needing_uri_escaping(spark, catalog, tmp_path, fv):
    """A table location with a space, '%' and '+': the parquet reader
    reports file paths percent-encoded (a space as %20), so every
    file-identity consumer — CoW file targeting, MOR tombstones,
    equality-delete sequence tags, lineage ids, DV referenced-files —
    must decode them back to manifest paths. The literal '%20' in the
    name catches a double decode, the '+' a form-style decode."""
    from lakekeeper_spark.format.icelite import snapshot_delete_entries

    ns = f"esc{fv}"
    catalog.create_namespace("wh", [ns])
    df = spark.createDataFrame(
        [(i, float(i), f"s{i % 7}") for i in range(40)], "id int, v double, s string"
    ).coalesce(2)
    catalog.create_table(
        "wh",
        [ns],
        "t",
        struct_to_schema(df.schema),
        location=str(tmp_path / f"sp ace%20a+b v{fv}"),
        format_version=fv,
    )
    t = SparkTable(spark, catalog, "wh", [ns], "t")
    t.append(df)
    model = {i: (float(i), f"s{i % 7}") for i in range(40)}

    def check():
        got = {r.id: (r.v, r.s) for r in t.scan().collect()}
        assert got == model

    t.delete_where("id < 5")
    model = {k: v for k, v in model.items() if k >= 5}
    check()
    t.update_where("id < 10", {"v": "v + 100"})
    model.update({i: (i + 100.0, model[i][1]) for i in range(5, 10)})
    check()
    src = spark.createDataFrame(
        [(10, -1.0, "m"), (100, -2.0, "new")], "id int, v double, s string"
    )
    t.merge(src, "t.id = s.id", matched_update={"v": "s.v"})
    model[10] = (-1.0, model[10][1])
    model[100] = (-2.0, "new")
    check()
    t.delete_where("id >= 35 AND id < 100", mode="merge-on-read")
    model = {k: v for k, v in model.items() if not 35 <= k < 100}
    check()
    t.update_where("id = 20", {"v": "0.5"}, mode="merge-on-read")
    model[20] = (0.5, model[20][1])
    check()
    t.delete_where("id = 21", mode="equality", equality_cols=["id"])
    del model[21]
    check()

    meta = t.metadata()
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data_paths = {
        e["path"]
        for e in snapshot_entries(snap)
        if e.get("content", "data") == "data"
    }
    positional = [
        e
        for e in snapshot_delete_entries(snap)
        if e["content"] != "equality-deletes"
    ]
    assert positional
    for e in positional:
        assert e["referenced-files"] and set(e["referenced-files"]) <= data_paths
    if fv >= 3:
        ids = [r._row_id for r in t.scan(row_lineage=True).collect()]
        assert None not in ids and len(set(ids)) == len(ids) == len(model)
