"""Streaming change-feed source (st11's machinery): event composition for
CoW histories AND merge-on-read histories (position tombstones, v3
deletion vectors with consolidation re-statement, equality deletes),
checkpoint-resume included — the streaming twin of SparkTable.changelog()."""

from __future__ import annotations

import tempfile

import pytest

from lakekeeper_spark.catalog.catalog import Catalog
from lakekeeper_spark.catalog.metastore import Metastore
from lakekeeper_spark.format.icelite import SparkTable, snapshot_entries
from lakekeeper_spark.format.types import struct_to_schema
from lakekeeper_spark.streaming.source import IceliteStreamDataSource


@pytest.fixture()
def feed(spark, tmp_path):
    try:
        spark.dataSource.register(IceliteStreamDataSource)
    except Exception:
        pass
    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["s"])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    cat.create_table("wh", ["s"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, cat, "wh", ["s"], "t")
    # one data file, so the CoW rewrite below touches exactly that file
    t.append(df.coalesce(1))
    return cat, t, str(tmp_path / "m.db")


def _drain(spark, mpath, collected, ckpt=None, namespace="s"):
    def collect(batch, batch_id):
        collected[batch_id] = batch.collect()

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", namespace)
        .option("table", "t")
        .option("change-feed", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _events(collected):
    return [r for batch in collected.values() for r in batch]


def _keyed(rows):
    return sorted(
        (r["k"], r["_change_type"], r["_commit_snapshot_id"]) for r in rows
    )


def test_cow_delete_emits_delete_insert_pairs(spark, feed):
    cat, t, mpath = feed
    t.delete_where("k < 5")  # CoW: rewrite the file without k<5
    collected: dict[int, list] = {}
    _drain(spark, mpath, collected)
    rows = [r for batch in collected.values() for r in batch]
    inserts = [r for r in rows if r["_change_type"] == "insert"]
    deletes = [r for r in rows if r["_change_type"] == "delete"]
    # commit 1: 20 inserts; commit 2 (CoW delete): 20 deletes + 15 inserts
    assert len(deletes) == 20
    assert len(inserts) == 20 + 15
    # signed net state equals the table's final state
    net = {}
    for r in rows:
        net[r["k"]] = net.get(r["k"], 0) + (1 if r["_change_type"] == "insert" else -1)
    live = sorted(k for k, n in net.items() if n > 0)
    assert live == list(range(5, 20))
    # commit ids are carried and distinct per commit
    assert len({r["_commit_snapshot_id"] for r in rows}) == 2


def test_change_feed_mor_position_tombstones(spark, feed):
    """A MoR position-delete commit streams 'delete' events for exactly
    the newly-tombstoned rows — byte-equal to the batch changelog."""
    cat, t, mpath = feed
    t.delete_where("k < 3")  # CoW rewrite commit
    t.delete_where("k >= 18", mode="merge-on-read")  # v2 tombstones
    collected: dict[int, list] = {}
    _drain(spark, mpath, collected)
    rows = _events(collected)
    assert _keyed(rows) == _keyed(t.changelog().collect())
    # the MoR commit contributed exactly two delete events, k in {18,19}
    mor_sid = t.metadata()["current-snapshot-id"]
    mor = [r for r in rows if r["_commit_snapshot_id"] == mor_sid]
    assert sorted((r["k"], r["_change_type"]) for r in mor) == [
        (18, "delete"),
        (19, "delete"),
    ]


def test_change_feed_mor_equality_and_update(spark, feed):
    """Equality-delete commits stream the parent-live matching rows as
    deletes (sequence-gated); a MoR UPDATE streams delete+insert pairs."""
    cat, t, mpath = feed
    t.delete_where("k IN (2, 4)", mode="equality", equality_cols=["k"])
    t.append(
        spark.createDataFrame([(2, 200.0)], "k long, v double")
    )  # reborn AFTER the equality delete: must NOT re-emit a delete
    t.update_where("k = 10", {"v": "999.0"}, mode="merge-on-read")
    collected: dict[int, list] = {}
    _drain(spark, mpath, collected)
    rows = _events(collected)
    assert _keyed(rows) == _keyed(t.changelog().collect())
    # net state equals the live table
    net: dict[tuple, int] = {}
    for r in rows:
        sign = 1 if r["_change_type"] == "insert" else -1
        net[(r["k"], r["v"])] = net.get((r["k"], r["v"]), 0) + sign
    live = sorted(kv for kv, n in net.items() if n > 0)
    assert live == sorted((r["k"], r["v"]) for r in t.scan().collect())


def test_change_feed_v3_dv_checkpoint_resume(spark, tmp_path):
    """v3 consolidated deletion vectors re-state prior positions; a
    checkpoint-resumed stream must emit ONLY the newly-deleted rows of
    each incremental batch."""
    from tests.test_delete_artifacts import _upgrade_v3

    try:
        spark.dataSource.register(IceliteStreamDataSource)
    except Exception:
        pass
    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["s"])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    cat.create_table("wh", ["s"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, cat, "wh", ["s"], "t")
    t.append(df.coalesce(1))
    _upgrade_v3(t)
    mpath = str(tmp_path / "m.db")
    ckpt = str(tmp_path / "ckpt")

    c1: dict[int, list] = {}
    _drain(spark, mpath, c1, ckpt)
    assert _keyed(_events(c1)) == [
        (k, "insert", t.metadata()["snapshots"][0]["snapshot-id"])
        for k in range(20)
    ]

    t.delete_where("k < 5", mode="merge-on-read")  # DV #1
    c2: dict[int, list] = {}
    _drain(spark, mpath, c2, ckpt)
    assert sorted((r["k"], r["_change_type"]) for r in _events(c2)) == [
        (k, "delete") for k in range(5)
    ]

    # DV #2 consolidates: it re-states positions 0-4 — resume must emit
    # ONLY k >= 15
    t.delete_where("k >= 15", mode="merge-on-read")
    c3: dict[int, list] = {}
    _drain(spark, mpath, c3, ckpt)
    assert sorted((r["k"], r["_change_type"]) for r in _events(c3)) == [
        (k, "delete") for k in range(15, 20)
    ]
    # and the full feed from scratch equals the batch changelog
    call: dict[int, list] = {}
    _drain(spark, mpath, call)
    assert _keyed(_events(call)) == _keyed(t.changelog().collect())


def test_batch_read_format_icelite_applies_mor_artifacts(spark, tmp_path):
    """spark.read.format('icelite'): the batch read path executes
    PlanTableScan tasks — plain pyarrow parquet reads with per-task
    positional + sequence-gated equality tombstones — and must equal the
    engine's own MOR scan, including partition-column fill, time travel
    and server-side partition pruning."""
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["b"])
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)], "k long, p long, v double"
    )
    cat.create_table(
        "wh",
        ["b"],
        "t",
        struct_to_schema(df.schema),
        partition_spec={
            "spec-id": 0,
            "fields": [{"name": "p", "source-name": "p", "field-id": 1000}],
        },
    )
    t = SparkTable(spark, cat, "wh", ["b"], "t")
    t.append(df)
    first_snap = t.metadata()["current-snapshot-id"]
    t.delete_where("k < 8", mode="equality", equality_cols=["k"])
    t.append(df.filter("k < 4"))  # reborn: newer than the equality delete
    t.delete_where("k >= 50", mode="merge-on-read")

    spark.dataSource.register(IceliteStreamDataSource)
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "b",
        "table": "t",
    }
    got = spark.read.format("icelite").options(**opts).load()
    want = t.scan()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # partition columns came from the task's partition tuple, typed
    assert dict(got.dtypes)["p"] == "bigint"
    # time travel to the first snapshot
    tt = (
        spark.read.format("icelite")
        .options(**opts)
        .option("snapshot-id", str(first_snap))
        .load()
    )
    assert tt.count() == 60
    # server-side partition pruning
    import json as _json

    p1 = (
        spark.read.format("icelite")
        .options(**opts)
        .option("partition-filter", _json.dumps({"p": 1}))
        .load()
    )
    assert sorted(r.k for r in p1.collect()) == sorted(
        r.k for r in want.filter("p = 1").collect()
    )


def test_batch_reader_emits_arrow_batches(spark, tmp_path):
    """The DataSource read path is VECTORIZED: read() yields
    pyarrow.RecordBatch (Spark 4's Arrow fast path), not row tuples —
    the scan-path contract external engines hit at scale."""
    import pyarrow as pa

    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema
    from lakekeeper_spark.streaming.source import (
        IceliteBatchReader,
        IceliteStreamReader,
    )

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["n"])
    df = spark.createDataFrame(
        [(i, float(i), f"d{i}") for i in range(50)], "k long, v double, s string"
    )
    cat.create_table("wh", ["n"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, cat, "wh", ["n"], "t")
    t.append(df)
    t.delete_where("k < 7", mode="merge-on-read")  # MOR: mask path exercised
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "n",
        "table": "t",
    }
    r = IceliteBatchReader(opts)
    out = [b for p in r.partitions() for b in r.read(p)]
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    assert sum(b.num_rows for b in out) == 43
    ks = sorted(
        k for b in out for k in b.column(0).to_pylist()
    )
    assert ks == list(range(7, 50))
    # the streaming reader emits batches too
    sr = IceliteStreamReader({**opts, "skip-delete-snapshots": "true"})
    parts = sr.partitions({"snapshot-id": 0}, sr.latestOffset())
    sout = [b for p in parts for b in sr.read(p)]
    assert sout and all(isinstance(b, pa.RecordBatch) for b in sout)
    assert sum(b.num_rows for b in sout) == 50


def test_batch_read_field_ids_survive_rename(spark, tmp_path):
    """Field-id projection on the DataSource path: after RENAME COLUMN,
    old files' columns still read (not NULL), and an equality delete
    written under the OLD name keeps deleting — rows never resurrect."""
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["n"])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k long, v double"
    )
    cat.create_table("wh", ["n"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, cat, "wh", ["n"], "t")
    t.append(df)
    t.delete_where("k < 10", mode="equality", equality_cols=["k"])
    t.rename_column("k", "key")
    t.rename_column("v", "val")
    spark.dataSource.register(IceliteStreamDataSource)
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "n",
        "table": "t",
    }
    got = spark.read.format("icelite").options(**opts).load()
    assert got.columns == ["key", "val"]
    want = t.scan()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # renamed columns carry VALUES from pre-rename files, and the
    # pre-rename equality delete still applies
    assert sorted(r.key for r in got.collect()) == list(range(10, 30))
    assert got.filter("val is null").count() == 0


def test_batch_read_date_partition_values(spark, tmp_path):
    """date identity-partition values come back typed (date32), not
    strings, through the DataSource batch reader."""
    import datetime

    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["n"])
    df = spark.createDataFrame(
        [
            (i, datetime.date(2024, 1, 1 + (i % 3)), float(i))
            for i in range(12)
        ],
        "k long, d date, v double",
    )
    cat.create_table(
        "wh",
        ["n"],
        "t",
        struct_to_schema(df.schema),
        partition_spec={
            "spec-id": 0,
            "fields": [{"name": "d", "source-name": "d", "field-id": 1000}],
        },
    )
    t = SparkTable(spark, cat, "wh", ["n"], "t")
    t.append(df)
    spark.dataSource.register(IceliteStreamDataSource)
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "n",
        "table": "t",
    }
    got = spark.read.format("icelite").options(**opts).load()
    assert dict(got.dtypes)["d"] == "date"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_batch_write_format_icelite_two_phase_commit(spark, tmp_path):
    """df.write.format('icelite'): executors write parquet + manifest
    entries, the driver commits through the catalog (Iceberg's two-phase
    write). Appends, identity-partitioned hive layout, overwrite mode,
    schema validation — and the written table reads back identically
    through BOTH the engine scan and the DataSource batch reader."""
    import pytest as _pytest

    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["w"])
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(40)], "k long, p long, v double"
    )
    cat.create_table(
        "wh",
        ["w"],
        "t",
        struct_to_schema(df.schema),
        partition_spec={
            "spec-id": 0,
            "fields": [{"name": "p", "source-name": "p", "field-id": 1000}],
        },
    )
    spark.dataSource.register(IceliteStreamDataSource)
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "w",
        "table": "t",
    }
    df.write.format("icelite").options(**opts).mode("append").save()
    df.filter("k < 10").write.format("icelite").options(**opts).mode("append").save()

    t = SparkTable(spark, cat, "wh", ["w"], "t")
    want = sorted(map(tuple, df.collect())) + sorted(
        map(tuple, df.filter("k < 10").collect())
    )
    assert sorted(map(tuple, t.scan().collect())) == sorted(want)
    # hive partition layout + per-entry partition values in the manifest
    meta = t.metadata()
    snap = meta["snapshots"][-1]
    assert all(e["partition"].get("p") in {"0", "1", "2"} for e in snapshot_entries(snap))
    assert meta["snapshots"][-1]["summary"]["operation"] == "append"
    # reads back through the DataSource reader too
    got = spark.read.format("icelite").options(**opts).load()
    assert sorted(map(tuple, got.collect())) == sorted(want)

    # overwrite replaces the table contents in one snapshot
    df.filter("k >= 35").write.format("icelite").options(**opts).mode(
        "overwrite"
    ).save()
    assert sorted(r.k for r in t.scan().collect()) == [35, 36, 37, 38, 39]
    assert t.metadata()["snapshots"][-1]["summary"]["operation"] == "overwrite"

    # schema mismatch is rejected loudly (no silent coercion)
    bad = spark.createDataFrame([(1, 2, 3)], "k int, p int, v int")
    with _pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("icelite").options(**opts).mode("append").save()


def test_stream_sink_exactly_once(spark, tmp_path):
    """writeStream.format('icelite'): an icelite->icelite streaming copy
    (stream source -> exactly-once sink). Draining twice off one
    checkpoint adds nothing; a manually REPLAYED epoch commit is
    detected by the (stream-id, epoch) high-water mark and skipped."""
    import tempfile as _tf

    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.format.types import struct_to_schema

    mpath = str(tmp_path / "m.db")
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["s"])
    df = spark.createDataFrame([(i, float(i)) for i in range(25)], "k long, v double")
    cat.create_table("wh", ["s"], "src", struct_to_schema(df.schema))
    cat.create_table("wh", ["s"], "dst", struct_to_schema(df.schema))
    src_t = SparkTable(spark, cat, "wh", ["s"], "src")
    src_t.append(df)
    spark.dataSource.register(IceliteStreamDataSource)

    def opts(table):
        return {
            "metastore": mpath,
            "warehouse": "wh",
            "namespace": "s",
            "table": table,
        }

    ckpt = _tf.mkdtemp(prefix="ckpt_sink_")

    def drain():
        q = (
            spark.readStream.format("icelite")
            .options(**opts("src"))
            .load()
            .writeStream.format("icelite")
            .options(**opts("dst"))
            .option("stream-id", "copy1")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    dst = SparkTable(spark, cat, "wh", ["s"], "dst")
    assert sorted(r.k for r in dst.scan().collect()) == list(range(25))
    n_snaps = len(dst.metadata()["snapshots"])
    assert (
        dst.metadata()["snapshots"][-1]["summary"]["streaming-stream-id"] == "copy1"
    )

    drain()  # same checkpoint, no new data: nothing commits
    assert len(dst.metadata()["snapshots"]) == n_snaps

    # new source data flows through on the next drain
    src_t.append(df.filter("k < 5"))
    drain()
    assert dst.scan().count() == 30

    # REPLAY a committed epoch by hand: the high-water mark rejects it
    from lakekeeper_spark.streaming.source import (
        IceliteStreamSinkWriter,
        _WriteMessage,
    )

    w = IceliteStreamSinkWriter(opts("dst"), df.schema, overwrite=False)
    last_epoch = max(
        s["summary"]["streaming-epoch"]
        for s in dst.metadata()["snapshots"]
        if s["summary"].get("streaming-stream-id") == "copy1"
    )
    w.stream_id = "copy1"
    w.commit([_WriteMessage([])], last_epoch)  # replayed, empty
    w.commit(
        [_WriteMessage([])], last_epoch
    )  # idempotent — and a stale-epoch message with files would be discarded
    assert dst.scan().count() == 30


# ---------------------------------------------------------------------------
# v3 row lineage on the streaming change feed
# ---------------------------------------------------------------------------
@pytest.fixture()
def v3feed(spark, tmp_path):
    try:
        spark.dataSource.register(IceliteStreamDataSource)
    except Exception:
        pass
    cat = Catalog(Metastore(str(tmp_path / "m3.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh3"))
    cat.create_namespace("wh", ["s3"])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    )
    cat.create_table(
        "wh", ["s3"], "t", struct_to_schema(df.schema), format_version=3
    )
    t = SparkTable(spark, cat, "wh", ["s3"], "t")
    t.append(df.repartition(1).sortWithinPartitions("k"))
    return cat, t, str(tmp_path / "m3.db")


def _drain_lineage(spark, mpath, collected, namespace="s3"):
    def collect(batch, batch_id):
        collected[batch_id] = batch.collect()

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", namespace)
        .option("table", "t")
        .option("change-feed", "true")
        .option("row-lineage", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_feed_rows_carry_row_ids(spark, v3feed):
    """The streaming change feed's _row_id matches the batch
    changelog(row_lineage=True): inserts carry the file's assigned ids,
    MoR tombstone deletes carry the ORIGINAL id of the dead row."""
    cat, t, mpath = v3feed
    t.delete_where("k = 4", mode="merge-on-read")
    collected: dict[int, list] = {}
    _drain_lineage(spark, mpath, collected)
    rows = [r for b in collected.values() for r in b]
    got = sorted((r["k"], r["_change_type"], r["_row_id"]) for r in rows)
    want = sorted(
        (r["k"], r["_change_type"], r["_row_id"])
        for r in t.changelog(row_lineage=True).collect()
    )
    assert got == want
    assert (4, "delete", 4) in got  # dead row by its original id


def test_stream_feed_pairs_updates_by_row_id(spark, v3feed):
    """foreachBatch + pair_update_images(identifier_columns=['_row_id'])
    over the lineage feed retags a MoR UPDATE's delete+reinsert as
    update_preimage/update_postimage — streaming CDC keyed by row id."""
    from lakekeeper_spark.format.icelite import pair_update_images

    cat, t, mpath = v3feed
    s1 = t.metadata()["current-snapshot-id"]
    t.update_where("k = 7", {"v": "99.0"}, mode="merge-on-read")
    collected: dict[int, list] = {}
    _drain_lineage(spark, mpath, collected)
    rows = [r for b in collected.values() for r in b]
    df = spark.createDataFrame(rows)
    update_commit = t.metadata()["current-snapshot-id"]
    paired = pair_update_images(
        df.filter(f"_commit_snapshot_id = {update_commit}"), ["_row_id"]
    )
    got = {(r._change_type, r.k, r.v, r._row_id) for r in paired.collect()}
    assert got == {
        ("update_preimage", 7, 7.0, 7),
        ("update_postimage", 7, 99.0, 7),
    }


def test_stream_feed_lineage_guards(spark, feed):
    """row-lineage on a v2 table fails loudly at planning time."""
    cat, t, mpath = feed
    collected: dict[int, list] = {}
    with pytest.raises(Exception, match="format-version >= 3"):
        _drain_lineage(spark, mpath, collected, namespace="s")


# ---------------------------------------------------------------------------
# lineage-events mode: the metadata-only CDC key stream (round 14)
# ---------------------------------------------------------------------------
def _drain_events(spark, mpath, collected, namespace="s3"):
    def collect(batch, batch_id):
        collected[batch_id] = batch.collect()

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", namespace)
        .option("table", "t")
        .option("lineage-events", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_lineage_events_stream_matches_changelog_row_ids(spark, v3feed):
    """readStream lineage-events == SparkTable.changelog_row_ids(): the
    streaming twin plans from the same metadata (file ranges + summary
    deleted-row-id-ranges + image-file-only reads)."""
    cat, t, mpath = v3feed
    t.update_where("k = 2", {"v": "-1.0"}, mode="merge-on-read")
    t.delete_where("k IN (5, 6)", mode="merge-on-read")
    src = spark.createDataFrame([(7, -7.0), (100, 100.0)],
                                "k long, v double").alias("s")
    t.merge(src, "t.k = s.k", matched_update={"v": "s.v"},
            mode="merge-on-read")
    want = sorted(
        (r._row_id, r._change_type, r._commit_snapshot_id)
        for r in t.changelog_row_ids().collect()
    )
    collected: dict = {}
    _drain_events(spark, mpath, collected)
    got = sorted(
        (r._row_id, r._change_type, r._commit_snapshot_id)
        for b in collected.values()
        for r in b
    )
    assert got == want
    # shape sanity: the update pair + both deletes + merge image/insert
    kinds = {}
    for rid, ct, _ in got:
        kinds.setdefault(ct, []).append(rid)
    assert 2 in kinds["delete"] and kinds["insert"].count(2) == 2
    assert {5, 6} <= set(kinds["delete"])
    assert 7 in kinds["delete"]  # merge-matched target row tombstoned


def test_lineage_events_stream_never_opens_parent_files(spark, v3feed):
    """Scorch every byte written BEFORE the DML commits: covered commits
    plan as pure range partitions / image-file reads, so the stream
    still delivers the exact event stream."""
    from pathlib import Path

    cat, t, mpath = v3feed
    loc = t.metadata()["location"].replace("file://", "")
    parent_files = {
        e["path"] for e in snapshot_entries(t.metadata()["snapshots"][-1])
    }
    t.update_where("k = 3", {"v": "0.5"}, mode="merge-on-read")
    t.delete_where("k = 8", mode="merge-on-read")
    want = sorted(
        (r._row_id, r._change_type)
        for r in t.changelog_row_ids().collect()
    )
    for rel in parent_files:
        Path(loc, rel).write_bytes(b"\xff" * 64)
    collected: dict = {}
    _drain_events(spark, mpath, collected)
    got = sorted(
        (r._row_id, r._change_type)
        for b in collected.values()
        for r in b
    )
    assert got == want
    assert (8, "delete") in got and (3, "insert") in got


def test_lineage_events_requires_v3(spark, feed):
    cat, t, mpath = feed  # v2 table
    collected: dict = {}
    with pytest.raises(Exception, match="format-version"):
        _drain_events(spark, mpath, collected, namespace="s")


def test_lineage_events_stream_cow_rewrite_is_targeted(spark, tmp_path):
    """Round-15: a pure CoW rewrite streams through the plan's
    targeted-diff branch — delete tasks name EXACTLY the removed files
    (with their tombstone-artifact masks), inserts come from the shared
    range/entry handling — so scorching every untouched live file leaves
    the streamed event set equal to changelog_row_ids()."""
    from pathlib import Path

    try:
        spark.dataSource.register(IceliteStreamDataSource)
    except Exception:
        pass
    cat = Catalog(Metastore(str(tmp_path / "mcow.db")))
    cat.create_warehouse("wh", str(tmp_path / "whcow"))
    cat.create_namespace("wh", ["cow"])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "k long, v double"
    )
    cat.create_table(
        "wh", ["cow"], "t", struct_to_schema(df.schema), format_version=3
    )
    t = SparkTable(spark, cat, "wh", ["cow"], "t")
    t.append(df.coalesce(1))  # file A: k 0..5
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(6, 12)], "k long, v double"
    ).coalesce(1))  # file B: k 6..11
    t.delete_where("k IN (7, 9)", mode="copy-on-write")  # rewrites B only
    meta = t.metadata()
    from lakekeeper_spark.format.icelite import plan_lineage_events

    cow = plan_lineage_events(meta)[-1]
    assert cow["targeted-diff"] is True
    want = sorted(
        (r._row_id, r._change_type, r._commit_snapshot_id)
        for r in t.changelog_row_ids().collect()
    )
    # scorch file A (untouched, still live): the stream must not open it
    needed = {e["path"] for e in cow["delete-file-entries"]} | {
        e["path"] for e in snapshot_entries(meta["snapshots"][-1])
        if e["path"] not in {
            p["path"] for p in snapshot_entries(meta["snapshots"][-2])
        }
    }
    loc = meta["location"].replace("file://", "")
    scorched = 0
    for p in Path(loc, "data").rglob("*.parquet"):
        if p.relative_to(loc).as_posix() not in needed:
            p.write_bytes(b"\xff" * 64)
            scorched += 1
    assert scorched >= 1
    collected: dict = {}
    _drain_events(spark, str(tmp_path / "mcow.db"), collected,
                  namespace="cow")
    got = sorted(
        (r._row_id, r._change_type, r._commit_snapshot_id)
        for b in collected.values()
        for r in b
    )
    assert got == want
    kinds = {}
    for rid, ct, _ in got:
        kinds.setdefault(ct, set()).add(rid)
    # all 6 parent rows of file B emit deletes; 4 survivors re-insert
    assert len(kinds["delete"]) >= 6 and 7 in kinds["delete"]


# ---------------------------------------------------------------------------
# one append commit, one lineage walk, one change planner
# ---------------------------------------------------------------------------
def test_writers_keep_the_write_schema_across_a_rename(spark, tmp_path):
    """A RENAME COLUMN that lands between a DataSource write and its
    commit must not re-map the written files: they keep the schema id
    they were written under, so the renamed column reads back its values
    through the engine scan and the DataSource reader — for the batch
    writer and the streaming sink alike."""
    import pyarrow as pa

    from lakekeeper_spark.streaming.source import (
        IceliteBatchWriter,
        IceliteStreamSinkWriter,
    )

    spark.dataSource.register(IceliteStreamDataSource)
    mpath = str(tmp_path / "m.db")
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["r"])
    schema = spark.createDataFrame([], "k long, v double").schema
    cat.create_table("wh", ["r"], "t", struct_to_schema(schema))
    opts = {"metastore": mpath, "warehouse": "wh", "namespace": "r", "table": "t"}

    def batch(ks):
        return pa.RecordBatch.from_pydict(
            {"k": ks, "v": [float(k) for k in ks]},
            schema=pa.schema([("k", pa.int64()), ("v", pa.float64())]),
        )

    writer = IceliteBatchWriter(opts, schema, overwrite=False)
    sink = IceliteStreamSinkWriter(opts, schema, overwrite=False)
    written = writer.write(iter([batch([1, 2])]))
    streamed = sink.write(iter([batch([3])]))
    t = SparkTable(spark, cat, "wh", ["r"], "t")
    t.rename_column("v", "w")
    writer.commit([written])
    sink.commit([streamed], 0)

    want = [(1, 1.0), (2, 2.0), (3, 3.0)]
    assert sorted(map(tuple, t.scan().collect())) == want
    got = spark.read.format("icelite").options(**opts).load()
    assert got.columns == ["k", "w"]
    assert sorted(map(tuple, got.collect())) == want


def test_changelog_rejects_a_from_that_is_not_an_ancestor(spark, feed):
    """changelog(from_snapshot_id=...) walks the same lineage as
    plan_lineage_events and the stream source: a rolled-back or unknown
    `from` raises instead of replaying the whole history, while a `from`
    that was expired under a retained child still bounds the range."""
    import time

    cat, t, mpath = feed
    row = "k long, v double"
    t.append(spark.createDataFrame([(100, 1.0)], row))
    rolled_back = t.metadata()["current-snapshot-id"]
    first = t.metadata()["snapshots"][0]["snapshot-id"]
    t.rollback_to_snapshot(first)
    t.append(spark.createDataFrame([(200, 2.0)], row))
    for bad in (rolled_back, 999999):
        with pytest.raises(ValueError, match="not an ancestor"):
            t.changelog(from_snapshot_id=bad)

    t.append(spark.createDataFrame([(300, 3.0)], row))
    child, head = [s["snapshot-id"] for s in t.metadata()["snapshots"][-2:]]
    t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 10_000, retain_last=2)
    assert first not in {s["snapshot-id"] for s in t.metadata()["snapshots"]}
    events = t.changelog(from_snapshot_id=first).collect()
    assert sorted((r["_commit_snapshot_id"], r["k"], r["_change_type"]) for r in events) == sorted(
        [(child, 200, "insert"), (head, 300, "insert")]
    )

    # a non-append child of an expired `from` removed or masked rows only
    # the parent held: it raises instead of reporting its carried rows
    t.delete_where("k = 5", mode="merge-on-read")
    t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 10_000, retain_last=1)
    (only,) = t.metadata()["snapshots"]
    with pytest.raises(ValueError, match="expired"):
        t.changelog(from_snapshot_id=only["parent-snapshot-id"])


@pytest.mark.parametrize(
    "fv, lineage", [(2, False), (3, False), (3, True)], ids=["v2", "v3", "v3-lineage"]
)
@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_stream_equals_changelog(spark, tmp_path, mode, fv, lineage):
    """The change feed and SparkTable.changelog read the same change
    groups (icelite.plan_changes), so their events are equal row for row
    over DELETE, UPDATE and MERGE in each mode, an equality delete
    followed by a re-insert of the same key, and v3 deletion vectors that
    restate earlier positions."""
    spark.dataSource.register(IceliteStreamDataSource)
    mpath = str(tmp_path / "m.db")
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["p"])
    row = "k long, v double"
    df = spark.createDataFrame([(i, float(i)) for i in range(20)], row)
    cat.create_table("wh", ["p"], "t", struct_to_schema(df.schema), format_version=fv)
    t = SparkTable(spark, cat, "wh", ["p"], "t")
    t.append(df.coalesce(1))
    t.delete_where("k < 3", mode=mode)
    t.update_where("k = 10", {"v": "v + 100"}, mode=mode)
    src = spark.createDataFrame([(11, -11.0), (50, 50.0)], row)
    t.merge(src, "t.k = s.k", matched_update={"v": "s.v"}, mode=mode)
    t.delete_where("k IN (4, 5)", mode="equality", equality_cols=["k"])
    t.append(spark.createDataFrame([(4, 400.0)], row))
    t.delete_where("k >= 18", mode="merge-on-read")
    t.delete_where("k = 12", mode="merge-on-read")  # v3: restates k >= 18

    collected: dict[int, list] = {}

    def collect(batch, batch_id):
        collected[batch_id] = batch.collect()

    (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", "p")
        .option("table", "t")
        .option("change-feed", "true")
        .option("row-lineage", str(lineage).lower())
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(map(tuple, _events(collected)))
    assert streamed == sorted(map(tuple, t.changelog(row_lineage=lineage).collect()))
    # the restating deletion vector emits only its new row
    last = t.metadata()["current-snapshot-id"]
    assert [r[0] for r in streamed if r[-1] == last] == [12]
