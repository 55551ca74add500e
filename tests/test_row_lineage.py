"""Iceberg v3 row lineage: table-level next-row-id, snapshot-level
first-row-id, per-file row-id ranges, and the _row_id /
_last_updated_sequence_number read columns.

Reference persists exactly these fields per table/snapshot
(lakekeeper-storage-postgres/migrations/20250923102542_v3_support.sql:
next_row_id on tables, first_row_id + assigned_rows on snapshots;
tabular/table/commit.rs:209-263) — the metadata computation itself lives
in the iceberg library there and in catalog/commit.py here."""

from __future__ import annotations

import pytest

from lakekeeper_spark.catalog.commit import (
    CommitValidationError,
    apply_commit,
    new_table_metadata,
)
from lakekeeper_spark.format.iceberg_manifests import write_manifest_file
from lakekeeper_spark.format.icelite import SparkTable, snapshot_entries

SCHEMA = {
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {"id": 2, "name": "v", "type": "string", "required": False},
    ],
}


def _snap(sid, manifests, first_row_id=None, parent=None):
    s = {
        "snapshot-id": sid,
        "parent-snapshot-id": parent,
        "summary": {"operation": "append"},
        "schema-id": 0,
        "manifests": manifests,
    }
    if first_row_id is not None:
        s["first-row-id"] = first_row_id
    return s


def _entry(path, n, content="data", frid=None):
    e = {"path": path, "record-count": n, "file-size-in-bytes": 1,
         "partition": {}, "content": content}
    if frid is not None:
        e["first-row-id"] = frid
    return e


def _manifest(meta, out_dir, entries, sid=1):
    """One real manifest file for ``entries``, written as a commit does."""
    return write_manifest_file(meta, entries, sid, sid, str(out_dir))


def _frids(snap):
    """Per-file first-row-ids as a reader sees them (descriptor
    inheritance materialized), in manifest order."""
    return [e.get("first-row-id") for e in snapshot_entries(snap)]


# ---------------------------------------------------------------------------
# commit-engine unit level
# ---------------------------------------------------------------------------
def test_v3_create_initializes_next_row_id():
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    assert meta["next-row-id"] == 0
    assert "next-row-id" not in new_table_metadata("u", "loc", SCHEMA)


def test_upgrade_to_v3_initializes_next_row_id():
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=2)
    out = apply_commit(
        meta, [], [{"action": "upgrade-format-version", "format-version": 3}]
    )
    assert out["next-row-id"] == 0


def test_add_snapshot_assigns_file_row_id_ranges(tmp_path):
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    m1 = _manifest(meta, tmp_path, [_entry("data/a.parquet", 10), _entry("data/b.parquet", 5)])
    assert m1["null-id-rows"] == 15
    out = apply_commit(
        meta, [], [{"action": "add-snapshot", "snapshot": _snap(1, [m1])}]
    )
    s1 = out["snapshots"][0]
    assert s1["first-row-id"] == 0
    assert [d["first-row-id"] for d in s1["manifests"]] == [0]
    assert _frids(s1) == [0, 10]
    assert out["next-row-id"] == 15
    # second append: the carried manifest keeps its base, the new one
    # starts at 15
    m2 = _manifest(out, tmp_path, [_entry("data/c.parquet", 7)], sid=2)
    out2 = apply_commit(
        out,
        [],
        [{"action": "add-snapshot",
          "snapshot": _snap(2, [dict(s1["manifests"][0]), m2], parent=1)}],
    )
    s2 = out2["snapshots"][1]
    assert s2["first-row-id"] == 15
    assert [d["first-row-id"] for d in s2["manifests"]] == [0, 15]
    assert _frids(s2) == [0, 10, 15]
    assert out2["next-row-id"] == 22
    # the parent snapshot still reads its own ids
    assert _frids(out2["snapshots"][0]) == [0, 10]


def test_delete_files_carry_no_row_ids(tmp_path):
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    data = _manifest(meta, tmp_path, [_entry("data/a.parquet", 4)])
    dels = _manifest(
        meta, tmp_path, [_entry("data/d.parquet", 3, content="position-deletes")]
    )
    assert "null-id-rows" not in dels
    out = apply_commit(
        meta, [], [{"action": "add-snapshot", "snapshot": _snap(1, [data, dels])}]
    )
    s = out["snapshots"][0]
    assert s["manifests"][0]["first-row-id"] == 0
    assert "first-row-id" not in s["manifests"][1]
    assert _frids(s) == [0, None]
    assert out["next-row-id"] == 4


def test_stale_first_row_id_rejected(tmp_path):
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    out = apply_commit(
        meta,
        [],
        [{"action": "add-snapshot",
          "snapshot": _snap(1, [_manifest(meta, tmp_path, [_entry("data/a.parquet", 10)])])}],
    )
    with pytest.raises(CommitValidationError, match="behind"):
        apply_commit(
            out,
            [],
            [{"action": "add-snapshot",
              "snapshot": _snap(2, [_manifest(out, tmp_path, [_entry("data/b.parquet", 1)], 2)],
                                first_row_id=3)}],
        )


def test_v2_snapshots_untouched(tmp_path):
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=2)
    out = apply_commit(
        meta,
        [],
        [{"action": "add-snapshot",
          "snapshot": _snap(1, [_manifest(meta, tmp_path, [_entry("data/a.parquet", 10)])])}],
    )
    s = out["snapshots"][0]
    assert "first-row-id" not in s
    assert "first-row-id" not in s["manifests"][0]
    assert _frids(s) == [None]
    assert "next-row-id" not in out


def test_add_snapshot_with_inline_entry_list_rejected():
    """The retired inline ``manifest`` entry list is refused: nothing
    reads it, so the snapshot would plan as an empty table."""
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    snap = _snap(1, [])
    snap["manifest"] = [_entry("data/a.parquet", 10)]
    with pytest.raises(CommitValidationError, match="manifest"):
        apply_commit(meta, [], [{"action": "add-snapshot", "snapshot": snap}])
    del snap["manifest"]
    assert apply_commit(meta, [], [{"action": "add-snapshot", "snapshot": snap}])[
        "snapshots"
    ]


# ---------------------------------------------------------------------------
# end-to-end through the engine read path
# ---------------------------------------------------------------------------
@pytest.fixture
def table(spark, catalog):
    catalog.create_namespace("wh", ["rl"])
    catalog.create_table("wh", ["rl"], "t", SCHEMA, format_version=3)
    return SparkTable(spark, catalog, "wh", ["rl"], "t")


def test_scan_row_ids_stable_and_disjoint_across_appends(spark, table):
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(6)], "id long, v string")
    table.append(df1)
    df2 = spark.createDataFrame([(i, f"b{i}") for i in range(6, 10)], "id long, v string")
    table.append(df2)
    got = table.scan(row_lineage=True)
    assert {"_row_id", "_last_updated_sequence_number"} <= set(got.columns)
    rows = {r.id: r for r in got.collect()}
    assert sorted(r._row_id for r in rows.values()) == list(range(10))
    # rows of one append share the file's sequence number; appends differ
    seqs = {rows[0]._last_updated_sequence_number,
            rows[9]._last_updated_sequence_number}
    assert len(seqs) == 2
    # metadata matches: next-row-id past the claimed ranges
    assert table.metadata()["next-row-id"] == 10
    # files metadata table exposes the per-file range starts
    frids = sorted(
        r.first_row_id for r in table.files().collect()
    )
    assert frids[0] == 0 and len(frids) >= 2


def test_row_ids_survive_mor_delete(spark, table):
    df = spark.createDataFrame([(i, f"x{i}") for i in range(8)], "id long, v string")
    table.append(df)
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    table.delete_where("id IN (2, 5)", mode="merge-on-read")
    after = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    assert set(after) == set(range(8)) - {2, 5}
    # survivors keep their original row ids (physical position is stable)
    for k, v in after.items():
        assert before[k] == v


def test_v2_scan_rejects_row_lineage(spark, catalog):
    catalog.create_namespace("wh", ["rl2"])
    catalog.create_table("wh", ["rl2"], "t2", SCHEMA, format_version=2)
    t = SparkTable(spark, catalog, "wh", ["rl2"], "t2")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="format-version >= 3"):
        t.scan(row_lineage=True)


def test_upgrade_then_append_assigns_ids_to_inherited_files(spark, catalog):
    """The v3 spec directs writers to assign first_row_id to data files
    LACKING one whenever a new manifest is written — so the first
    post-upgrade commit gives the carried pre-upgrade file an id range
    too, and the upgraded table converges to non-null _row_id without
    rewriting any bytes. Ranges stay disjoint."""
    catalog.create_namespace("wh", ["rl3"])
    catalog.create_table("wh", ["rl3"], "t3", SCHEMA, format_version=2)
    t = SparkTable(spark, catalog, "wh", ["rl3"], "t3")
    t.append(spark.createDataFrame([(1, "old")], "id long, v string"))
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.append(spark.createDataFrame([(2, "new")], "id long, v string"))
    rows = {r.id: r for r in t.scan(row_lineage=True).collect()}
    ids = {rows[1]._row_id, rows[2]._row_id}
    assert None not in ids  # converged: inherited file got a range
    assert ids == {0, 1}  # disjoint, both claimed from next-row-id
    assert t.metadata()["next-row-id"] == 2
    # time travel: the PRE-upgrade snapshot's manifest is untouched
    old_snap = t.metadata()["snapshots"][0]
    assert all(
        e.get("first-row-id") is None
        for e in snapshot_entries(old_snap)
        if e.get("content", "data") == "data"
    )


# ---------------------------------------------------------------------------
# property: random append sequences keep row-id ranges disjoint and stable
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False

if _HAS_HYP:

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=50),  # record counts
                min_size=1,
                max_size=4,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def test_property_row_id_ranges_disjoint_and_stable(appends):
        import tempfile

        meta = new_table_metadata("u", "loc", SCHEMA, format_version=3)
        seen: dict[str, int] = {}  # path -> first-row-id, must never move
        bases: dict[str, int] = {}  # manifest -> first-row-id, likewise
        fidx = 0
        sid = 0
        with tempfile.TemporaryDirectory() as out_dir:
            for counts in appends:
                sid += 1
                parent = meta.get("current-snapshot-id")
                prev = next(
                    (
                        s
                        for s in meta["snapshots"]
                        if s["snapshot-id"] == parent
                    ),
                    None,
                )
                before = meta["next-row-id"]
                new = []
                for rc in counts:
                    new.append(_entry(f"data/f{fidx}.parquet", rc))
                    fidx += 1
                fresh = _manifest(meta, out_dir, new, sid)
                manifests = [dict(d) for d in (prev["manifests"] if prev else [])]
                meta = apply_commit(
                    meta,
                    [],
                    [
                        {
                            "action": "add-snapshot",
                            "snapshot": _snap(sid, manifests + [fresh], parent=parent),
                        },
                        {
                            "action": "set-snapshot-ref",
                            "ref-name": "main",
                            "snapshot-id": sid,
                        },
                    ],
                )
                snap = meta["snapshots"][-1]
                # per manifest: a base id exactly when it holds rows to
                # number, the new one starting at the old next-row-id, and
                # a carried one keeping its base
                for d in snap["manifests"]:
                    if d["path"] in bases:
                        assert d["first-row-id"] == bases[d["path"]]
                    elif d["null-id-rows"]:
                        assert d["first-row-id"] == before
                        bases[d["path"]] = d["first-row-id"]
                    else:
                        assert "first-row-id" not in d
                assert meta["next-row-id"] == before + fresh["null-id-rows"]
                ranges = []
                for e in snapshot_entries(snap):
                    frid = e.get("first-row-id")
                    if frid is None:
                        assert e["record-count"] == 0  # nothing to number
                        continue
                    # stability: once assigned, a file's id never moves
                    if e["path"] in seen:
                        assert seen[e["path"]] == frid
                    else:
                        seen[e["path"]] = frid
                    ranges.append((frid, frid + e["record-count"]))
                # disjoint (zero-length ranges may share a start point)
                ranges.sort()
                for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
                    assert a1 <= b0
                # next-row-id is past every claimed range
                assert meta["next-row-id"] >= max(
                    (end for _, end in ranges), default=0
                )


# ---------------------------------------------------------------------------
# row-id-preserving compaction: materialized _row_id column
# ---------------------------------------------------------------------------
def test_compaction_preserves_row_ids(spark, table):
    spark_df = spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"
    )
    table.append(spark_df)
    table.append(
        spark.createDataFrame([(i, f"y{i}") for i in range(6, 10)],
                              "id long, v string")
    )
    table.delete_where("id IN (1, 8)", mode="merge-on-read")
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    table.rewrite_data_files(target_files=1, preserve_row_ids=True)
    after = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    # survivors keep their PRE-compaction ids: the stored column wins
    # over the new file's claimed (and therefore unused) range
    assert after == before
    # the compacted snapshot is a single file; it still claims a fresh
    # range (per-row inheritance makes the stored ids win)
    snap = table.metadata()["snapshots"][-1]
    datas = [e for e in snapshot_entries(snap)
             if e.get("content", "data") == "data"]
    assert len(datas) == 1 and "first-row-id" in datas[0]
    # appends after the preserved compaction stay globally unique
    table.append(spark.createDataFrame([(99, "z")], "id long, v string"))
    rows = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    assert rows[99] == table.metadata()["next-row-id"] - 1
    assert len(set(rows.values())) == len(rows)
    assert {k: v for k, v in rows.items() if k != 99} == before


def test_default_compaction_still_assigns_fresh_ids(spark, table):
    table.append(
        spark.createDataFrame([(i, "a") for i in range(4)],
                              "id long, v string")
    )
    table.rewrite_data_files(target_files=1)
    snap = table.metadata()["snapshots"][-1]
    e = next(x for x in snapshot_entries(snap)
             if x.get("content", "data") == "data")
    assert e.get("materialized-row-ids") is None
    assert e["first-row-id"] == 4  # fresh range after the original [0,4)


def test_preserved_ids_survive_schema_evolution(spark, table):
    """The materialized read path stays field-id-aware: rename a column
    AFTER the preserving compaction and the lineage scan still works."""
    table.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(5)],
                              "id long, v string")
    )
    table.rewrite_data_files(target_files=1, preserve_row_ids=True)
    table.rename_column("v", "val")
    rows = {r.id: (r.val, r._row_id)
            for r in table.scan(row_lineage=True).collect()}
    assert rows[3] == ("v3", 3)


def test_preserve_requires_v3(spark, catalog):
    catalog.create_namespace("wh", ["rl4"])
    catalog.create_table("wh", ["rl4"], "t", SCHEMA, format_version=2)
    from lakekeeper_spark.catalog.catalog import CatalogError

    t = SparkTable(spark, catalog, "wh", ["rl4"], "t")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(CatalogError, match="format-version >= 3"):
        t.rewrite_data_files(preserve_row_ids=True)


# ---------------------------------------------------------------------------
# automatic DML preservation on v3 (spec: a rewritten row keeps its id)
# ---------------------------------------------------------------------------
def test_cow_delete_preserves_survivor_ids(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(8)], "id long, v string"))
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    table.delete_where("id IN (0, 3)", mode="copy-on-write")
    after = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    assert set(after) == set(range(8)) - {0, 3}
    for k, v in after.items():
        assert before[k] == v


def test_cow_update_keeps_row_ids(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    table.update_where("id >= 3", {"v": "'updated'"})
    got = {r.id: (r.v, r._row_id)
           for r in table.scan(row_lineage=True).collect()}
    assert got[4] == ("updated", before[4])  # updated row KEEPS its id
    assert got[1] == ("x1", before[1])
    assert len({rid for _, rid in got.values()}) == 6


def test_mor_update_keeps_row_ids(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    table.update_where("id = 2", {"v": "'patched'"}, mode="merge-on-read")
    got = {r.id: (r.v, r._row_id)
           for r in table.scan(row_lineage=True).collect()}
    assert got[2] == ("patched", before[2])
    assert {rid for _, rid in got.values()} == set(before.values())


def test_merge_keeps_matched_ids_fresh_ids_for_inserts(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(4)], "id long, v string"))
    before = {r.id: r._row_id for r in table.scan(row_lineage=True).collect()}
    src = spark.createDataFrame(
        [(2, "merged"), (100, "new")], "id long, v string"
    ).alias("s")
    table.merge(src, "t.id = s.id", matched_update={"v": "s.v"})
    got = {r.id: (r.v, r._row_id)
           for r in table.scan(row_lineage=True).collect()}
    assert got[2] == ("merged", before[2])  # matched row keeps its id
    assert got[100][0] == "new"
    assert got[100][1] is not None  # insert inherits a fresh id
    assert len({rid for _, rid in got.values()}) == 5


# ---------------------------------------------------------------------------
# changelog with row lineage: CDC keyed by _row_id
# ---------------------------------------------------------------------------
def test_changelog_rows_carry_row_ids(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(5)], "id long, v string"))
    table.delete_where("id = 3", mode="merge-on-read")
    ch = table.changelog(row_lineage=True)
    assert "_row_id" in ch.columns
    rows = [(r.id, r._change_type, r._row_id) for r in ch.collect()]
    inserts = {(i, rid) for i, t, rid in rows if t == "insert"}
    deletes = {(i, rid) for i, t, rid in rows if t == "delete"}
    assert inserts == {(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)}
    assert deletes == {(3, 3)}  # the tombstoned row, by its ORIGINAL id


def test_changelog_update_pairing_by_row_id(spark, table):
    """The lineage-native CDC pairing: after a MoR UPDATE (delete +
    reinsert with preserved id), identifier_columns=["_row_id"] retags
    the pair as update_preimage/update_postimage."""
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(4)], "id long, v string"))
    s1 = table.metadata()["current-snapshot-id"]
    table.update_where("id = 2", {"v": "'patched'"}, mode="merge-on-read")
    ch = table.changelog(
        from_snapshot_id=s1, row_lineage=True,
        identifier_columns=["_row_id"],
    )
    got = {(r._change_type, r.id, r.v, r._row_id) for r in ch.collect()}
    assert ("update_preimage", 2, "x2", 2) in got
    assert ("update_postimage", 2, "patched", 2) in got
    assert len(got) == 2  # nothing else changed in that commit


def test_changelog_row_lineage_guards(spark, table, catalog):
    table.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="net_changes"):
        table.changelog(row_lineage=True, net_changes=True)
    catalog.create_namespace("wh", ["rl5"])
    catalog.create_table("wh", ["rl5"], "t5", SCHEMA, format_version=2)
    t2 = SparkTable(spark, catalog, "wh", ["rl5"], "t5")
    t2.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="format-version >= 3"):
        t2.changelog(row_lineage=True)


def test_batch_datasource_read_carries_row_ids(spark, catalog, tmp_path):
    """spark.read.format("icelite").option("row-lineage","true") — the
    DataFrame-API twin of scan(row_lineage=True): same ids, same
    survivors after a MoR delete; v2 tables are rejected."""
    from lakekeeper_spark.streaming.source import IceliteStreamDataSource

    try:
        spark.dataSource.register(IceliteStreamDataSource)
    except Exception:
        pass
    catalog.create_namespace("wh", ["rds"])
    catalog.create_table("wh", ["rds"], "t", SCHEMA, format_version=3)
    t = SparkTable(spark, catalog, "wh", ["rds"], "t")
    t.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(8)], "id long, v string"))
    t.delete_where("id IN (2, 6)", mode="merge-on-read")
    mpath = str(tmp_path / "metastore.db")  # the conftest catalog's store
    df = (
        spark.read.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", "rds")
        .option("table", "t")
        .option("row-lineage", "true")
        .load()
    )
    got = {r.id: r._row_id for r in df.collect()}
    want = {r.id: r._row_id for r in t.scan(row_lineage=True).collect()}
    assert got == want and set(got) == set(range(8)) - {2, 6}


# ---------------------------------------------------------------------------
# _last_updated_sequence_number preservation (v3 spec: a carried row keeps
# the sequence number of the commit that last MODIFIED it)
# ---------------------------------------------------------------------------
def test_compaction_preserves_last_updated_seq(spark, table):
    """preserve_row_ids compaction materializes _last_updated_sequence_number
    alongside _row_id: CDC consumers keying on it must see NO phantom
    updates after a rewrite."""
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    table.update_where("id = 4", {"v": "'bumped'"}, mode="merge-on-read")
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in table.scan(row_lineage=True).collect()
    }
    # the MoR-updated row reads a LATER seq than the untouched ones
    assert before[4][1] > before[0][1]
    table.rewrite_data_files(target_files=1, preserve_row_ids=True)
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in table.scan(row_lineage=True).collect()
    }
    assert after == before  # neither ids NOR last-updated seqs moved


def test_cow_update_bumps_seq_only_for_modified_rows(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    base_seq = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    table.update_where("id >= 3", {"v": "'updated'"})
    got = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    new_seq = table.metadata()["last-sequence-number"]
    for i in range(6):
        if i >= 3:
            assert got[i] == new_seq  # modified: the UPDATE's commit seq
        else:
            # carried unchanged through the rewrite: keeps its old seq
            assert got[i] == base_seq[i] < new_seq


def test_cow_delete_preserves_survivor_seq(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(4)], "id long, v string"))
    base_seq = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    table.delete_where("id = 1", mode="copy-on-write")
    got = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    assert set(got) == {0, 2, 3}
    for k, v in got.items():
        assert v == base_seq[k]  # survivors: no phantom update


def test_cow_merge_bumps_seq_only_for_matched_rows(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(4)], "id long, v string"))
    base_seq = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    src = spark.createDataFrame(
        [(2, "merged"), (100, "new")], "id long, v string").alias("s")
    table.merge(src, "t.id = s.id", matched_update={"v": "s.v"})
    got = {
        r.id: r._last_updated_sequence_number
        for r in table.scan(row_lineage=True).collect()
    }
    new_seq = table.metadata()["last-sequence-number"]
    assert got[2] == new_seq  # matched+updated
    assert got[100] == new_seq  # fresh insert
    for i in (0, 1, 3):
        assert got[i] == base_seq[i] < new_seq  # carried unchanged


def test_update_where_multi_assignment_sees_pre_update_row(spark, table):
    """SQL UPDATE semantics: every RHS (and the WHERE) evaluates against
    the PRE-update row — SET v = 'hit' WHERE id > 2 combined with an
    id-mutating assignment must still apply both."""
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(5)], "id long, v string"))
    table.update_where("id > 2", {"id": "0", "v": "'hit'"})
    got = sorted((r.id, r.v) for r in table.scan().collect())
    assert got == [(0, "hit"), (0, "hit"), (0, "x0"), (1, "x1"), (2, "x2")]


def test_add_snapshot_rejects_added_file_without_record_count(tmp_path):
    """A v3 added data file with no record-count cannot claim a row-id
    range (a defaulted 0 would overlap the next file's ids): the manifest
    writer refuses it, so no snapshot can list it."""
    meta = new_table_metadata("u", "file:///tmp/t", SCHEMA, format_version=3)
    with pytest.raises(ValueError, match="record-count"):
        _manifest(meta, tmp_path, [{"path": "data/a.parquet", "content": "data"}])


# ---------------------------------------------------------------------------
# metadata-only CDC planning: changelog_row_ids (round-14)
# ---------------------------------------------------------------------------
def _lineage_events(df):
    return {
        (r._row_id, r._change_type, r._commit_snapshot_id)
        for r in df.collect()
    }


def test_changelog_row_ids_matches_full_changelog(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    table.append(spark.createDataFrame(
        [(i, f"y{i}") for i in range(6, 9)], "id long, v string"))
    table.delete_where("id IN (1, 7)", mode="merge-on-read")
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    got = _lineage_events(table.changelog_row_ids())
    assert got == want
    # the MoR delete recorded its ranges in the commit summary
    assert table.metadata()["snapshots"][-1]["summary"][
        "deleted-row-id-ranges"
    ] == [[1, 1], [7, 7]]


def test_changelog_row_ids_never_opens_data_files(spark, table, tmp_path):
    """The plan guard: scorch EVERY parquet byte under the table's data
    dir after the commits — append + tombstone-only MoR delete events
    still plan exactly from metadata (file row-id ranges + the summary's
    deleted-row-id-ranges). Any data-file read would throw."""
    from pathlib import Path

    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(8)], "id long, v string"))
    table.delete_where("id >= 5", mode="merge-on-read")
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    loc = table.metadata()["location"].replace("file://", "")
    scorched = 0
    for p in Path(loc, "data").rglob("*.parquet"):
        p.write_bytes(b"\xff" * 64)  # undecodable as parquet
        scorched += 1
    assert scorched >= 2  # the data file AND the tombstone artifact
    got = _lineage_events(table.changelog_row_ids())
    assert got == want
    assert {t for _, t, _ in got} == {"insert", "delete"}


def test_changelog_row_ids_falls_back_for_cow_and_oversize(spark, table):
    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string"))
    # CoW delete: removes+rewrites data files -> content fallback path
    table.delete_where("id = 2", mode="copy-on-write")
    # oversized MoR delete: cap forced to 0 rows -> no ranges recorded
    table._MAX_RANGE_ROWS = 0
    table.delete_where("id = 4", mode="merge-on-read")
    assert "deleted-row-id-ranges" not in (
        table.metadata()["snapshots"][-1]["summary"]
    )
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    assert _lineage_events(table.changelog_row_ids()) == want


def test_changelog_row_ids_requires_v3(spark, catalog):
    catalog.create_namespace("wh", ["rl6"])
    catalog.create_table("wh", ["rl6"], "t6", SCHEMA, format_version=2)
    t = SparkTable(spark, catalog, "wh", ["rl6"], "t6")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="format-version >= 3"):
        t.changelog_row_ids()


def test_changelog_row_ids_mor_update_merge_eq_are_parent_scan_free(
    spark, table, catalog
):
    """Round-14 batch 2: MoR UPDATE / MERGE / equality-delete commits
    record their tombstoned rows' id ranges too, so changelog_row_ids
    never opens PARENT files for them — scorch every data byte written
    BEFORE the DML commits (the update images themselves stay readable)
    and the event stream is still exact."""
    from pathlib import Path

    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(8)], "id long, v string"))
    loc = table.metadata()["location"].replace("file://", "")
    parent_files = {
        e["path"]
        for e in snapshot_entries(table.metadata()["snapshots"][-1])
    }
    table.update_where("id = 2", {"v": "'patched'"}, mode="merge-on-read")
    src = spark.createDataFrame(
        [(5, "merged"), (100, "new")], "id long, v string").alias("s")
    table.merge(src, "t.id = s.id", matched_update={"v": "s.v"},
                mode="merge-on-read")
    table.delete_where("v = 'x3'", mode="equality", equality_cols=["id"])
    for s in table.metadata()["snapshots"][1:]:
        assert s["summary"].get("deleted-row-id-ranges"), s["summary"]
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    # scorch ONLY the pre-DML files: their bytes must never be needed
    for rel in parent_files:
        Path(loc, rel).write_bytes(b"\xff" * 64)
    got = _lineage_events(table.changelog_row_ids())
    assert got == want
    # sanity: the stream really contains update pairs + the eq delete
    kinds = {}
    for rid, t, sid in got:
        kinds.setdefault(t, set()).add(rid)
    assert 2 in kinds["delete"] and 2 in kinds["insert"]  # MoR update
    assert 5 in kinds["delete"] and 5 in kinds["insert"]  # merge update
    assert 3 in kinds["delete"]  # equality delete victim


def test_plan_lineage_events_pure_and_over_http(spark, table, catalog):
    """The pure metadata planner (no Spark needed) classifies commits
    exactly as changelog_row_ids consumes them, and the REST facade
    serves the same plan over HTTP."""
    import json
    import urllib.request

    from lakekeeper_spark.format.icelite import plan_lineage_events
    from lakekeeper_spark.rest.server import RestCatalogServer

    table.append(spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "id long, v string").coalesce(1))
    table.update_where("id = 1", {"v": "'u'"}, mode="merge-on-read")
    table.delete_where("id = 4", mode="copy-on-write")  # targeted diff
    meta = table.metadata()
    plans = plan_lineage_events(meta)
    assert len(plans) == 3
    append, upd, cow = plans
    assert not append["content-fallback"]
    assert append["insert-ranges"] == [[0, 5]]
    assert append["insert-file-entries"] == []
    assert upd["delete-ranges"] == [[1, 1]]
    assert len(upd["insert-file-entries"]) == 1  # the image file
    # pure CoW rewrite: targeted diff — the plan names EXACTLY the
    # removed files (delete side) and carries the parent's tombstone
    # artifacts as the liveness mask; content-fallback STAYS True so
    # round-14 consumers (no targeted keys) keep producing the commit
    # exactly via the full changelog
    assert cow["content-fallback"] is True
    assert cow["targeted-diff"] is True
    assert len(cow["delete-file-entries"]) == 1  # the rewritten file
    assert len(cow["delete-mask-entries"]) == 1  # the MoR artifact
    assert cow["parent-schema-id"] == upd["schema-id"]
    # from/to windowing: only the update commit
    window = plan_lineage_events(
        meta,
        from_snapshot_id=append["snapshot-id"],
        to_snapshot_id=upd["snapshot-id"],
    )
    assert [p["snapshot-id"] for p in window] == [upd["snapshot-id"]]
    # over HTTP
    srv = RestCatalogServer(catalog).start()
    try:
        url = (
            f"{srv.url}/catalog/v1/wh/namespaces/rl/"
            f"tables/t/lineage-events"
        )
        got = json.load(urllib.request.urlopen(url))
        assert got["commits"] == json.loads(json.dumps(plans))
    finally:
        srv.stop()


def test_eq_delete_null_key_victims_emit_events(spark, table):
    """A NULL equality-key kills live rows whose column is NULL
    (eqNullSafe in _apply_equality_deletes) — the recorded ranges AND
    the full changelog's equality branch must report those victims
    too (a name-list join silently drops NULL keys)."""
    table.append(spark.createDataFrame(
        [(0, "a"), (1, None), (2, "b"), (3, None)], "id long, v string"
    ).coalesce(1))
    # delete by v-key where id=1 matches: the NULL key kills id=3 too
    table.delete_where("id = 1", mode="equality", equality_cols=["v"])
    survivors = {r.id for r in table.scan().collect()}
    assert survivors == {0, 2}  # eqNullSafe killed BOTH null-key rows
    ranges = table.metadata()["snapshots"][-1]["summary"][
        "deleted-row-id-ranges"
    ]
    assert ranges == [[1, 1], [3, 3]]
    events = {
        (r._row_id, r._change_type)
        for r in table.changelog(row_lineage=True)
        .select("_row_id", "_change_type")
        .collect()
    }
    assert (1, "delete") in events and (3, "delete") in events
    fast = {
        (r._row_id, r._change_type)
        for r in table.changelog_row_ids().collect()
    }
    assert (1, "delete") in fast and (3, "delete") in fast


def test_plan_lineage_events_rejects_non_ancestor_from(spark, table):
    table.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    from lakekeeper_spark.format.icelite import plan_lineage_events

    with pytest.raises(ValueError, match="not an ancestor"):
        plan_lineage_events(table.metadata(), from_snapshot_id=999999)
    with pytest.raises(ValueError, match="not an ancestor"):
        table.changelog_row_ids(from_snapshot_id=999999)


def test_plan_lineage_events_expired_snapshot_semantics(spark, table):
    """Two expiry cases with OPPOSITE correct behaviors: a `from` whose
    snapshot object was expired while its child survived is fine (the
    child's parent POINTER marks the boundary — a checkpointed stream
    keeps running); mid-history expiry with no `from` boundary must
    FAIL (diffing the oldest survivor against an empty parent would
    re-emit carried rows as inserts of the wrong commit)."""
    import copy

    from lakekeeper_spark.format.icelite import plan_lineage_events

    for i in range(3):
        table.append(spark.createDataFrame(
            [(i, f"x{i}")], "id long, v string"))
    meta = table.metadata()
    s1, s2, s3 = [s["snapshot-id"] for s in meta["snapshots"]]
    # expire s1 only; s2 (child) still points at it
    pruned = copy.deepcopy(meta)
    pruned["snapshots"] = [
        s for s in pruned["snapshots"] if s["snapshot-id"] != s1
    ]
    plans = plan_lineage_events(pruned, from_snapshot_id=s1)
    assert [p["snapshot-id"] for p in plans] == [s2, s3]
    # same expiry, but NO from boundary: events since creation are gone
    with pytest.raises(ValueError, match="expired"):
        plan_lineage_events(pruned)
    # and a from that never existed still reports non-ancestor
    with pytest.raises(ValueError, match="not an ancestor"):
        plan_lineage_events(meta, from_snapshot_id=424242)


def test_cow_rewrite_targeted_diff_never_scans_parent_state(spark, table):
    """Round-15: a pure CoW rewrite takes the plan's targeted-diff
    branch — delete events come from reading EXACTLY the removed files,
    insert events from the added files' ranges/entries — so scorching
    every UNTOUCHED parent file leaves the event stream exact (the old
    content-fallback ran the full changelog for the commit; it also only
    opened those files, but the plan said nothing and a REST consumer
    had no file list)."""
    from pathlib import Path

    from lakekeeper_spark.format.icelite import plan_lineage_events

    for lo in (0, 6, 12):  # three single-file appends
        table.append(spark.createDataFrame(
            [(i, f"x{i}") for i in range(lo, lo + 6)], "id long, v string"
        ).coalesce(1))
    # CoW delete hits ids 7 and 9: ONLY the middle file is rewritten
    table.delete_where("id IN (7, 9)", mode="copy-on-write")
    meta = table.metadata()
    plans = plan_lineage_events(meta)
    cow = plans[-1]
    assert cow["targeted-diff"] is True
    removed_paths = {e["path"] for e in cow["delete-file-entries"]}
    assert len(removed_paths) == 1  # exactly the middle file
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    # scorch every file the targeted diff must NOT need: the untouched
    # first/third files (still live) and everything else that is neither
    # the removed file nor a survivor written by the CoW commit
    loc = meta["location"].replace("file://", "")
    needed = removed_paths | {
        e["path"] for e in snapshot_entries(meta["snapshots"][-1])
        if e["path"] not in {
            p["path"] for p in snapshot_entries(meta["snapshots"][-2])
        }
    }
    scorched = 0
    for p in Path(loc, "data").rglob("*.parquet"):
        rel = p.relative_to(loc).as_posix()
        if rel not in needed:
            p.write_bytes(b"\xff" * 64)
            scorched += 1
    assert scorched >= 2  # the two untouched live files
    got = _lineage_events(table.changelog_row_ids())
    assert got == want
    kinds = {}
    for rid, ct, _ in got:
        kinds.setdefault(ct, set()).add(rid)
    # all 6 parent rows of the rewritten file emit deletes; the 4
    # survivors re-emit as inserts (carry-over pairs, changelog parity)
    assert kinds["delete"] & {7, 9}
    assert len([r for r in kinds["delete"]]) >= 6


def test_targeted_diff_masks_name_only_relevant_artifacts(spark, table):
    """Round-15 review fix: the targeted-diff plan's delete-mask-entries
    must list only tombstone artifacts that can ADDRESS a removed file
    (referenced-files intersection / equality-seq gating) — shipping
    every parent artifact would re-open the whole tombstone set on a
    3-of-100k-file rewrite and bloat the served plan JSON."""
    from lakekeeper_spark.format.icelite import plan_lineage_events

    for lo in (0, 6, 12):
        table.append(spark.createDataFrame(
            [(i, f"x{i}") for i in range(lo, lo + 6)], "id long, v string"
        ).coalesce(1))
    # one MoR tombstone per file: three DV artifacts at the parent
    for k in (0, 6, 12):
        table.delete_where(f"id = {k}", mode="merge-on-read")
    # CoW delete touching ONLY the middle file
    table.delete_where("id IN (7, 9)", mode="copy-on-write")
    meta = table.metadata()
    cow = plan_lineage_events(meta)[-1]
    assert cow["targeted-diff"] is True
    removed = {e["path"] for e in cow["delete-file-entries"]}
    assert len(removed) == 1
    masks = cow["delete-mask-entries"]
    # every mask must reference the removed file; the two artifacts
    # addressing untouched files are filtered out
    for m in masks:
        refs = m.get("referenced-files")
        assert refs is None or set(refs) & removed
    all_dels = [
        e for s in meta["snapshots"] for e in snapshot_entries(s)
        if e.get("content", "data") != "data"
    ]
    assert len(masks) < len({e["path"] for e in all_dels})
    # and the event stream stays exact: id 7's prior MoR victim (id 6)
    # must NOT re-emit a delete from the CoW rewrite
    want = _lineage_events(
        table.changelog(row_lineage=True).select(
            "_row_id", "_change_type", "_commit_snapshot_id"
        )
    )
    got = _lineage_events(table.changelog_row_ids())
    assert got == want
