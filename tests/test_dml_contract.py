"""The row-level DML contract shared by every mode of icelite's DELETE,
UPDATE and MERGE.

Each statement loads the table metadata once and commits against that
same snapshot; a row whose condition is NULL survives DELETE; values are
written as the column's declared type; an unknown ``mode`` is refused.
"""

from __future__ import annotations

import pytest

from lakekeeper_spark.catalog.catalog import CatalogError, CommitFailedException
from lakekeeper_spark.format.icelite import SparkTable
from lakekeeper_spark.format.types import struct_to_schema

MODES = ("copy-on-write", "merge-on-read")


def _table(spark, catalog, name, rows, ddl, fv=2):
    catalog.create_namespace("wh", ["dml"], exists_ok=True)
    # one data file: a copy-on-write statement rewrites every row of it
    df = spark.createDataFrame(rows, ddl).coalesce(1)
    catalog.create_table("wh", ["dml"], name, struct_to_schema(df.schema), format_version=fv)
    t = SparkTable(spark, catalog, "wh", ["dml"], name)
    t.append(df)
    return t


@pytest.mark.parametrize("fv", [2, 3])
@pytest.mark.parametrize("mode", MODES + ("equality",))
def test_delete_keeps_rows_where_condition_is_null(spark, catalog, mode, fv):
    t = _table(
        spark, catalog, f"null_{mode[:3]}_{fv}", [(1, 10), (2, None), (3, 30)], "id int, x int", fv
    )
    kwargs = {"equality_cols": ["id"]} if mode == "equality" else {}
    t.delete_where("x > 20", mode=mode, **kwargs)
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 10), (2, None)]


@pytest.mark.parametrize("mode", MODES)
def test_written_values_take_the_declared_type(spark, catalog, mode):
    """A bigint value written into an int column (append, MERGE insert and
    update) and a decimal assignment to an int column (UPDATE) are cast
    to int; the table stays readable."""
    t = _table(spark, catalog, f"types_{mode[:3]}", [(1, 10), (2, 20)], "id int, x int")
    t.append(spark.createDataFrame([(3, 30)], "id bigint, x bigint"))
    src = spark.createDataFrame([(2, 200), (4, 40)], "id bigint, x bigint")
    t.merge(src, "t.id = s.id", matched_update={"x": "s.x"}, mode=mode)
    t.update_where("id = 1", {"x": "x + 0.5"}, mode=mode)
    got = t.scan()
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["int", "int"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, 10), (2, 200), (3, 30), (4, 40)]
    # a double MERGE source against bigint columns: the inserts and the
    # updated images are both cast before they meet, so no value the
    # statement leaves alone passes through double (2**53 + 1 would not
    # survive it), neither in a rewritten file nor in a matched image
    big = 2**53 + 1
    w = _table(
        spark,
        catalog,
        f"wide_{mode[:3]}",
        [(1, big, big), (2, 20, big)],
        "id int, x bigint, y bigint",
    )
    src = spark.createDataFrame([(2, 200.0, 0.0), (3, 30.0, 3.0)], "id int, x double, y double")
    w.merge(src, "t.id = s.id", matched_update={"x": "s.x"}, mode=mode)
    assert sorted(tuple(r) for r in w.scan().collect()) == [
        (1, big, big),
        (2, 200, big),
        (3, 30, 3),
    ]


@pytest.mark.parametrize("mode", MODES)
def test_type_rule_raises_without_ansi(spark, catalog, mode):
    """The type rule does not depend on spark.sql.ansi.enabled: with it
    off, a value out of the column's range or not a number still fails
    the write instead of wrapping or turning NULL."""
    t = _table(spark, catalog, f"ansi_{mode[:3]}", [(1, 10)], "id int, x int")
    n_snaps = len(t.metadata()["snapshots"])
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        writes = [
            lambda: t.append(spark.createDataFrame([(2, 2**40)], "id int, x bigint")),
            lambda: t.update_where("id = 1", {"x": "'ten'"}, mode=mode),
            lambda: t.merge(
                spark.createDataFrame([(1, 2**40), (5, 2**40)], "id int, x bigint"),
                "t.id = s.id",
                matched_update={"x": "s.x"},
                mode=mode,
            ),
        ]
        for write in writes:
            with pytest.raises(Exception, match="declared type"):
                write()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert len(t.metadata()["snapshots"]) == n_snaps
    assert [tuple(r) for r in t.scan().collect()] == [(1, 10)]


def test_unknown_mode_is_rejected(spark, catalog):
    t = _table(spark, catalog, "modes", [(1, 10)], "id int, x int")
    n_snaps = len(t.metadata()["snapshots"])
    src = spark.createDataFrame([(1, 5)], "id int, x int")
    calls = [
        (lambda: t.delete_where("x > 0", mode="merge_on_read"), "copy-on-write, merge-on-read, equality"),
        (lambda: t.update_where("x > 0", {"x": "0"}, mode="merge_on_read"), "copy-on-write, merge-on-read"),
        (lambda: t.merge(src, "t.id = s.id", mode="mor"), "copy-on-write, merge-on-read"),
    ]
    for call, valid in calls:
        with pytest.raises(CatalogError, match="valid modes: " + valid):
            call()
    assert len(t.metadata()["snapshots"]) == n_snaps
    assert [tuple(r) for r in t.scan().collect()] == [(1, 10)]


@pytest.mark.parametrize("fv", [2, 3])
def test_each_dml_statement_loads_metadata_once(spark, catalog, monkeypatch, fv):
    t = _table(
        spark, catalog, f"loads{fv}", [(i, i * 10) for i in range(8)], "id int, x int", fv
    )
    src = spark.createDataFrame([(1, -1), (100, -2)], "id int, x int")
    real = catalog.load_table
    loads = []

    def counting(*args, **kwargs):
        loads.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(catalog, "load_table", counting)
    statements = {}
    for mode in MODES:
        statements[f"delete {mode}"] = lambda m=mode: t.delete_where("id = 7", mode=m)
        statements[f"update {mode}"] = lambda m=mode: t.update_where(
            "id = 2", {"x": "x + 1"}, mode=m
        )
        statements[f"merge {mode}"] = lambda m=mode: t.merge(
            src, "t.id = s.id", matched_update={"x": "s.x"}, mode=m
        )
    statements["delete equality"] = lambda: t.delete_where(
        "id = 3", mode="equality", equality_cols=["id"]
    )
    got = {}
    for label, statement in statements.items():
        loads.clear()
        statement()
        got[label] = len(loads)
    assert got == {label: 1 for label in statements}


@pytest.mark.parametrize("mode", MODES)
def test_merge_fails_on_a_concurrent_append(spark, catalog, monkeypatch, mode):
    """A second writer's append that lands after the MERGE read its base
    must fail the MERGE's commit, not be committed over: otherwise the
    source row with key 2 is inserted next to the appended one."""
    t = _table(spark, catalog, f"race_{mode[:3]}", [(1, 1.0)], "id int, v double")
    other = SparkTable(spark, catalog, "wh", ["dml"], t.name)
    src = spark.createDataFrame([(2, 2.0)], "id int, v double")
    real = catalog.load_table
    raced = []

    def load_then_race(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            other.append(spark.createDataFrame([(2, 9.0)], "id int, v double"))
        return out

    monkeypatch.setattr(catalog, "load_table", load_then_race)
    with pytest.raises(CommitFailedException):
        t.merge(src, "t.id = s.id", matched_update={"v": "s.v"}, mode=mode)
    monkeypatch.setattr(catalog, "load_table", real)
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 1.0), (2, 9.0)]


@pytest.mark.parametrize("fv", [2, 3])
@pytest.mark.parametrize("mode", MODES)
def test_update_commits_operation_overwrite(spark, catalog, mode, fv):
    """Iceberg's operation set is closed (append, replace, overwrite,
    delete): an UPDATE commits ``overwrite`` in every mode."""
    t = _table(spark, catalog, f"opname_{mode[:3]}_{fv}", [(1, 10), (2, 20)], "id int, x int", fv)
    t.update_where("id = 1", {"x": "11"}, mode=mode)
    assert t.metadata()["snapshots"][-1]["summary"]["operation"] == "overwrite"
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 11), (2, 20)]


@pytest.mark.parametrize("fv", [2, 3])
@pytest.mark.parametrize("mode", MODES)
def test_statement_that_changes_nothing_commits_nothing(spark, catalog, mode, fv):
    """A DELETE, UPDATE or MERGE that matches no row and inserts none
    writes no snapshot, in every mode."""
    t = _table(spark, catalog, f"noop_{mode[:3]}_{fv}", [(1, 10), (2, 20)], "id int, x int", fv)
    n_snaps = len(t.metadata()["snapshots"])
    src = spark.createDataFrame([(9, 90)], "id int, x int")
    t.delete_where("id > 5", mode=mode)
    t.update_where("id > 5", {"x": "0"}, mode=mode)
    t.merge(src, "t.id = s.id", matched_update={"x": "s.x"}, not_matched_insert=False, mode=mode)
    assert len(t.metadata()["snapshots"]) == n_snaps
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 10), (2, 20)]


@pytest.mark.parametrize("fv", [2, 3])
@pytest.mark.parametrize("mode", MODES)
def test_insert_only_merge_commits_an_append(spark, catalog, mode, fv):
    """A MERGE with no matched_update only inserts: it commits the source
    rows that match no target row as an ``append`` — no delete file, no
    rewritten file, no prior tombstone re-encoded — and the changelog
    holds inserts only. With not_matched_insert=False as well, or when
    every source row matches, it commits nothing."""
    from lakekeeper_spark.format.icelite import (
        _split_manifest,
        snapshot_entries,
    )

    t = _table(
        spark, catalog, f"ins_{mode[:3]}_{fv}", [(1, 10), (2, 20), (3, 30)], "id int, x int", fv
    )
    t.delete_where("id = 3", mode="merge-on-read")  # a prior tombstone
    before = _split_manifest(snapshot_entries(t.metadata()["snapshots"][-1]))
    src = spark.createDataFrame([(2, 99), (4, 40), (5, 50)], "id int, x int")
    t.merge(src, "t.id = s.id", mode=mode)
    snap = t.metadata()["snapshots"][-1]
    assert snap["summary"]["operation"] == "append"
    assert "added-delete-files" not in snap["summary"]
    data, dels = _split_manifest(snapshot_entries(snap))
    assert dels == before[1]  # tombstones carried as they were
    assert {e["path"] for e in before[0]} <= {e["path"] for e in data}
    assert snap["summary"]["added-records"] == 2
    events = sorted(
        (r.id, r.x, r._change_type)
        for r in t.changelog().filter(f"_commit_snapshot_id = {snap['snapshot-id']}").collect()
    )
    assert events == [(4, 40, "insert"), (5, 50, "insert")]
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 10), (2, 20), (4, 40), (5, 50)]
    n_snaps = len(t.metadata()["snapshots"])
    t.merge(src, "t.id = s.id", not_matched_insert=False, mode=mode)
    t.merge(src.filter("id = 2"), "t.id = s.id", mode=mode)
    assert len(t.metadata()["snapshots"]) == n_snaps


@pytest.mark.parametrize("fv", [2, 3])
def test_written_data_files_all_hold_rows(spark, catalog, fv):
    """Spark leaves an empty parquet file for an empty write task. A
    merge-on-read MERGE with updates and inserts commits no zero-row data
    entry and leaves no row-less file under data/. An append of an empty
    frame still commits an append snapshot, with no data entry."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from lakekeeper_spark.format.icelite import snapshot_entries

    t = _table(spark, catalog, f"rows_{fv}", [(i, i) for i in range(4)], "id int, x int", fv)
    src = spark.createDataFrame([(1, 100), (9, 90)], "id int, x int").repartition(6)
    t.merge(src, "t.id = s.id", matched_update={"x": "s.x"}, mode="merge-on-read")
    entries = snapshot_entries(t.metadata()["snapshots"][-1])
    assert [e["path"] for e in entries if e["record-count"] == 0] == []
    n_snaps = len(t.metadata()["snapshots"])
    t.append(spark.createDataFrame([], "id int, x int"))
    snap = t.metadata()["snapshots"][-1]
    assert len(t.metadata()["snapshots"]) == n_snaps + 1
    assert snap["summary"]["operation"] == "append"
    assert snap["summary"].get("added-data-files", 0) == 0
    assert [e for e in snapshot_entries(snap) if e["record-count"] == 0] == []
    data = Path(t.metadata()["location"]) / "data"
    assert [p for p in data.rglob("*.parquet") if pq.ParquetFile(p).metadata.num_rows == 0] == []
    assert sorted(tuple(r) for r in t.scan().collect()) == [(0, 0), (1, 100), (2, 2), (3, 3), (9, 90)]
