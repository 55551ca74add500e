"""Incremental out-of-line manifests (round 16): commit cost O(delta).

The round-15 verdict's top scale defect was that every commit rewrote
the table's ENTIRE file inventory — inline in the metadata JSON blob
and again as fresh Avro manifests per snapshot with zero reuse. These
tests pin the new contract, mirroring real Iceberg's commit shape
(append = ONE new manifest + a manifest list referencing the parent's
manifests untouched; spec "Manifest Lists") and the reference catalog's
normalized metadata intent
(migrations/20241106201139_split_table_metadata.sql:39-167):

  - an append to an N-file table writes O(1) new manifest files;
  - carried manifest files are BYTE-IDENTICAL across commits (reused by
    path, never re-encoded);
  - the stored metadata blob holds descriptors only — its size is
    O(manifests), independent of file count and bloom configuration;
  - a delete rewrites ONLY the manifests whose entries it removes;
  - manifest-level pruning: a scan whose filter a descriptor summary
    refutes never OPENS the manifest (scorched-file proof + open
    counter);
  - expire_snapshots never purges a manifest file a retained snapshot
    still references (reuse means victims and survivors share files);
  - manifest merging bounds the manifest list under many commits.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from lakekeeper_spark.format.icelite import (
    SparkTable,
    snapshot_entries,
    snapshot_manifests,
)
from lakekeeper_spark.format.iceberg_manifests import (
    manifest_cache_clear,
    manifest_open_count,
)

SCHEMA = {
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "v", "type": "string", "required": False},
    ],
}


@pytest.fixture()
def table(spark, catalog):
    catalog.create_namespace("wh", ["inc"])
    catalog.create_table("wh", ["inc"], "t", SCHEMA)
    return SparkTable(spark, catalog, "wh", ["inc"], "t")


def _digests(paths: list[str]) -> dict[str, str]:
    return {p: hashlib.sha256(Path(p).read_bytes()).hexdigest() for p in paths}


def test_append_writes_one_manifest_and_reuses_parents(spark, table):
    """Five appends: every commit adds exactly ONE new data manifest;
    all parent manifests are carried by the same path with byte-identical
    contents."""
    seen_paths: list[list[str]] = []
    for b in range(5):
        table.append(
            spark.createDataFrame(
                [(b * 10 + i, f"v{b}-{i}") for i in range(8)],
                "id long, v string",
            ).coalesce(2)
        )
        snap = table.metadata()["snapshots"][-1]
        paths = [d["path"] for d in snapshot_manifests(snap)]
        seen_paths.append(paths)
    for i in range(1, 5):
        prev, cur = seen_paths[i - 1], seen_paths[i]
        # every parent manifest carried verbatim, exactly one new file
        assert set(prev) <= set(cur)
        assert len(set(cur) - set(prev)) == 1
    # byte-identical reuse: files named by snapshot 1 are untouched now
    first = table.metadata()["snapshots"][0]
    before = _digests([d["path"] for d in snapshot_manifests(first)])
    table.append(
        spark.createDataFrame([(999, "z")], "id long, v string")
    )
    assert _digests(list(before)) == before
    # and the table reads exactly (5 appends x 8 rows) + 1
    assert table.scan().count() == 41


def test_metadata_blob_holds_descriptors_not_entries(spark, table):
    """The stored blob is O(manifests): no snapshot embeds an inline
    entry list, and growing the FILE count 8x grows the blob only by
    the descriptor delta (one descriptor per commit), not per file."""
    table.append(
        spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1)
    )
    small = len(json.dumps(table.metadata()))
    # one more commit, but with 32 files in it
    table.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, v string"
        ).repartition(32)
    )
    meta = table.metadata()
    big = len(json.dumps(meta))
    for s in meta["snapshots"]:
        assert "manifest" not in s, "inline entry list leaked into the blob"
        assert snapshot_manifests(s), "descriptors missing"
    # 32 extra files cost one descriptor, not 32 entries: the blob grew
    # by well under 32 x entry-size (~300 bytes each inline)
    assert big - small < 2500, (small, big)
    assert table.scan().count() == 65


def test_blob_size_independent_of_bloom_config(spark, catalog):
    """Bitmaps live in the Puffin sidecar: with blooms ON the metadata
    blob carries only (path, offset, length) refs — no base64 bitmap —
    so its size stays within a small constant of the bloom-less blob."""
    for name, props in (
        ("plain", None),
        ("bloomy", {"write.metadata.bloom-filter-columns": "id,v"}),
    ):
        catalog.create_namespace("wh", [f"bl_{name}"])
        catalog.create_table(
            "wh", [f"bl_{name}"], "t", SCHEMA, properties=props
        )
        t = SparkTable(spark, catalog, "wh", [f"bl_{name}"], "t")
        t.append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(5000)], "id long, v string"
            ).coalesce(4)
        )
        if name == "plain":
            plain_size = len(json.dumps(t.metadata()))
        else:
            bloom_meta = t.metadata()
            bloom_size = len(json.dumps(bloom_meta))
            entry = snapshot_entries(bloom_meta["snapshots"][-1])[0]
            assert "bits" not in entry["bloom"]["id"]
            assert entry["bloom"]["id"]["path"].endswith(".puffin")
    # a 5k-ndv bitmap is ~6 KiB packed per (file, column); 8 of them
    # inline would add ~90 KiB base64. The ref-only delta stays tiny.
    assert bloom_size - plain_size < 4000, (plain_size, bloom_size)
    # and the probe still prunes through the sidecar
    assert t.scan(point_filter={"id": 3}).filter("id = 3").count() == 1


def test_delete_rewrites_only_affected_manifests(spark, table):
    """CoW DELETE hitting one commit's files: the other commits'
    manifests are carried byte-identically; only the affected manifest
    is replaced (plus one for the rewritten file)."""
    for b in range(3):
        table.append(
            spark.createDataFrame(
                [(b * 100 + i, f"v{b}") for i in range(10)],
                "id long, v string",
            ).coalesce(1)
        )
    before = {
        d["path"]: d
        for d in snapshot_manifests(table.metadata()["snapshots"][-1])
    }
    digests = _digests(list(before))
    table.delete_where("id >= 200")  # only batch 2's file matches
    after = snapshot_manifests(table.metadata()["snapshots"][-1])
    after_paths = {d["path"] for d in after}
    carried = after_paths & set(before)
    # batches 0 and 1's manifests are carried; batch 2's is gone
    assert len(carried) == 2
    assert {Path(p).name for p in set(before) - carried}  # one dropped
    # carried files untouched on disk
    assert _digests(sorted(carried)) == {
        p: digests[p] for p in sorted(carried)
    }
    assert table.scan().count() == 20


def test_manifest_level_pruning_scorch(spark, table):
    """A stats_filter refuted by a manifest's descriptor bounds never
    opens the manifest: proven by the open counter AND by scorching the
    manifest files themselves (not just the data) — the plan still
    works because pruning happened at descriptor level."""
    # two appends with disjoint id ranges -> two manifests with
    # disjoint bounds summaries
    table.append(
        spark.createDataFrame(
            [(i, "lo") for i in range(100)], "id long, v string"
        ).coalesce(1)
    )
    table.append(
        spark.createDataFrame(
            [(1000 + i, "hi") for i in range(100)], "id long, v string"
        ).coalesce(1)
    )
    meta = table.metadata()
    snap = meta["snapshots"][-1]
    descs = snapshot_manifests(snap)
    lo = next(d for d in descs if d["bounds"]["id"][1] < 1000)
    manifest_cache_clear()
    # fully out-of-range: NO manifest is opened and the scan is empty
    assert table.scan(stats_filter={"id": (5000, 6000)}).count() == 0
    assert manifest_open_count() == 0
    # scorch: destroy the LO manifest file — the pruned scan plans and
    # reads without ever touching it
    manifest_cache_clear()
    Path(lo["path"]).write_bytes(b"\xff" * 16)
    rows = (
        table.scan(stats_filter={"id": (1000, 1009)})
        .filter("id >= 1000 and id <= 1009")
        .count()
    )
    assert rows == 10
    assert manifest_open_count() == 1


def test_partition_summary_prunes_manifests(spark, catalog):
    """Descriptor partition value sets skip whole manifests for
    partition_filter scans (value not in the manifest's set)."""
    catalog.create_namespace("wh", ["incp"])
    catalog.create_table(
        "wh", ["incp"], "t", SCHEMA,
        partition_spec={
            "spec-id": 0,
            "fields": [
                {"source-id": 2, "field-id": 1000,
                 "transform": "identity", "name": "v"}
            ],
        },
    )
    t = SparkTable(spark, catalog, "wh", ["incp"], "t")
    t.append(spark.createDataFrame(
        [(i, "a") for i in range(10)], "id long, v string").coalesce(1))
    t.append(spark.createDataFrame(
        [(i, "b") for i in range(10)], "id long, v string").coalesce(1))
    manifest_cache_clear()
    assert t.scan(partition_filter={"v": "b"}).count() == 10
    assert manifest_open_count() == 1  # manifest for v=a never opened


def test_expire_keeps_shared_manifests(spark, table):
    """Manifest REUSE means expired and retained snapshots share
    manifest files: expiring old snapshots must purge only files no
    retained snapshot references — and the purge queue must never name
    a shared one."""
    import time

    for b in range(3):
        table.append(
            spark.createDataFrame(
                [(b, f"v{b}")], "id long, v string"
            ).coalesce(1)
        )
    meta = table.metadata()
    head = meta["snapshots"][-1]
    head_files = {d["path"] for d in snapshot_manifests(head)}
    time.sleep(0.01)
    victims = table.expire_snapshots(
        older_than_ms=int(time.time() * 1000), retain_last=1
    )
    assert len(victims) == 2
    # run the purge queue, then prove the head still reads
    from lakekeeper_spark.catalog.lifecycle import run_purge_queue

    run_purge_queue(table.catalog)
    for p in head_files:
        assert Path(p).exists(), f"shared manifest purged: {p}"
    manifest_cache_clear()
    assert table.scan().count() == 3
    # the expired snapshots' EXCLUSIVE manifest lists are gone
    assert not any(
        Path(s_ml).exists()
        for s_ml in [
            s["manifest-list"]
            for s in meta["snapshots"]
            if s["snapshot-id"] in victims
        ]
    )


def test_manifest_merge_bounds_list_growth(spark, catalog):
    """With commit.manifest.min-count-to-merge=4, a long append history
    keeps the per-snapshot manifest count bounded instead of growing
    one manifest per commit."""
    catalog.create_namespace("wh", ["incm"])
    catalog.create_table(
        "wh", ["incm"], "t", SCHEMA,
        properties={"commit.manifest.min-count-to-merge": "4"},
    )
    t = SparkTable(spark, catalog, "wh", ["incm"], "t")
    for b in range(10):
        t.append(
            spark.createDataFrame(
                [(b * 10 + i, "x") for i in range(3)], "id long, v string"
            ).coalesce(1)
        )
    snap = t.metadata()["snapshots"][-1]
    assert len(snapshot_manifests(snap)) < 4
    assert t.scan().count() == 30
    # merged history still diffs correctly
    assert t.scan_changes(None).count() == 30


def test_commit_wire_payload_is_descriptor_sized(spark, table):
    """The add-snapshot update the commit engine receives (and a REST
    catalog would transport) carries descriptors, not the file
    inventory: its JSON size is independent of the table's file count."""
    recorded = []
    orig = table.catalog.commit_table

    def spy(wh, levels, name, requirements, updates):
        recorded.append(json.dumps(updates))
        return orig(wh, levels, name, requirements, updates)

    table.catalog.commit_table = spy
    try:
        table.append(
            spark.createDataFrame(
                [(i, "x") for i in range(64)], "id long, v string"
            ).repartition(32)
        )
        first = len(recorded[-1])
        table.append(
            spark.createDataFrame([(999, "y")], "id long, v string")
        )
        second = len(recorded[-1])
    finally:
        table.catalog.commit_table = orig
    # the second commit's payload references 33 files but ships only
    # descriptors: it must not be ~32 entries (~10 KB) bigger
    assert abs(second - first) < 2500, (first, second)


def test_avro_mirror_matches_engine_entries(spark, table):
    """Interop surface: the spec Avro manifest-list + manifests decode
    to the SAME inventory as the engine's entries — with reuse in play
    (carried manifests referenced by their original path)."""
    from lakekeeper_spark.format.iceberg_manifests import mirrors_inline

    table.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    table.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    table.delete_where("id = 1")
    for s in table.metadata()["snapshots"]:
        assert mirrors_inline(s), s["snapshot-id"]


def test_v3_row_ids_stable_across_incremental_commits(spark, catalog):
    """The descriptor-level first-row-id assignment reproduces the
    inline engine's values: upgrade mid-history, carried files get
    ranges at the next commit, ids never move once assigned."""
    catalog.create_namespace("wh", ["incv3"])
    catalog.create_table("wh", ["incv3"], "t", SCHEMA, format_version=2)
    t = SparkTable(spark, catalog, "wh", ["incv3"], "t")
    t.append(spark.createDataFrame(
        [(i, "old") for i in range(5)], "id long, v string").coalesce(1))
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.append(spark.createDataFrame(
        [(10 + i, "new") for i in range(5)], "id long, v string").coalesce(1))
    rows = {r.id: r._row_id for r in t.scan(row_lineage=True).collect()}
    assert set(rows.values()) == set(range(10))
    assert t.metadata()["next-row-id"] == 10
    # ids stable across a further unrelated commit
    t.append(spark.createDataFrame([(99, "z")], "id long, v string"))
    rows2 = {r.id: r._row_id for r in t.scan(row_lineage=True).collect()}
    assert {k: v for k, v in rows2.items() if k != 99} == rows
    assert rows2[99] == 10


def test_streaming_microbatch_opens_only_delta_manifests(spark, catalog, tmp_path):
    """Round-16 verdict item 7 (the read-side O(delta) discipline): a
    streaming micro-batch plans from the manifests the two offset
    snapshots DON'T share. Proven two ways: the open counter increments
    by exactly the new manifest, and scorching every SHARED manifest
    file (after a cache clear) still plans and reads the batch — the
    carried inventory is never touched."""
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.streaming.source import IceliteStreamReader

    cat = Catalog(Metastore(str(tmp_path / "m.db")))
    cat.create_warehouse("wh", str(tmp_path / "wh"))
    cat.create_namespace("wh", ["st"])
    cat.create_table("wh", ["st"], "t", SCHEMA)
    t = SparkTable(spark, cat, "wh", ["st"], "t")
    for b in range(4):
        t.append(
            spark.createDataFrame(
                [(b * 10 + i, f"b{b}") for i in range(5)],
                "id long, v string",
            ).coalesce(1)
        )
    opts = {
        "metastore": str(tmp_path / "m.db"),
        "warehouse": "wh",
        "namespace": "st",
        "table": "t",
    }
    sr = IceliteStreamReader(opts)
    snaps = t.metadata()["snapshots"]
    lo = {"snapshot-id": snaps[-2]["snapshot-id"]}
    hi = {"snapshot-id": snaps[-1]["snapshot-id"]}
    # counter proof: with a cold cache, the (N-1 -> N) batch opens ONLY
    # the one manifest new to snapshot N
    manifest_cache_clear()
    parts = sr.partitions(lo, hi)
    assert manifest_open_count() == 1
    rows = [r for p in parts for b in sr.read(p) for r in b.to_pylist()]
    assert sorted(r["id"] for r in rows) == [30 + i for i in range(5)]
    # scorch proof: destroy every manifest SHARED by the two snapshots —
    # the incremental plan must not need them
    shared = {d["path"] for d in snapshot_manifests(snaps[-2])} & {
        d["path"] for d in snapshot_manifests(snaps[-1])
    }
    assert len(shared) == 3
    for p in shared:
        Path(p).write_bytes(b"\xff" * 8)
    manifest_cache_clear()
    parts = sr.partitions(lo, hi)
    rows = [r for p in parts for b in sr.read(p) for r in b.to_pylist()]
    assert sorted(r["id"] for r in rows) == [30 + i for i in range(5)]


def test_append_cas_rebase_restamps_sequence_numbers(spark, catalog):
    """Review fix (round 16): after a lost CAS, the retried append must
    RE-STAMP its entries' data sequence numbers to the rebased commit's
    — a stale seq would let an equality delete committed in between
    wrongly apply to this append's rows, and the manifest would record
    the files as 'existing' attributed to the winner's snapshot."""
    from lakekeeper_spark.catalog.catalog import CommitFailedException

    catalog.create_namespace("wh", ["cas"])
    catalog.create_table("wh", ["cas"], "t", SCHEMA)
    t1 = SparkTable(spark, catalog, "wh", ["cas"], "t")
    t2 = SparkTable(spark, catalog, "wh", ["cas"], "t")
    t1.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    orig = catalog.commit_table
    state = {"raced": False}

    def racy(wh, levels, name, req, upd):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent writer wins the CAS first (recursion passes
            # through because the flag is already set)
            t2.append(spark.createDataFrame([(2, "b")], "id long, v string"))
            raise CommitFailedException("raced")
        return orig(wh, levels, name, req, upd)

    catalog.commit_table = racy
    try:
        t1.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    finally:
        catalog.commit_table = orig
    snap = t1.metadata()["snapshots"][-1]
    new = [
        e
        for e in snapshot_entries(snap)
        if e["path"] not in {x["path"] for x in snapshot_entries(
            t1.metadata()["snapshots"][-2])}
    ]
    assert new and all(
        e["sequence-number"] == snap["sequence-number"] for e in new
    )
    # and the new manifest records them as ADDED at this snapshot
    d = next(
        d for d in snapshot_manifests(snap)
        if d["added-snapshot-id"] == snap["snapshot-id"]
    )
    assert d["added-files-count"] == len(new)
    assert sorted(r.id for r in t1.scan().collect()) == [1, 2, 3]


def test_overwrite_rebases_onto_a_concurrent_append(spark, catalog):
    """An append that lands between an overwrite's file write and its
    commit: the overwrite retries against the fresh head, removing the
    appended file too, so it still commits and the table holds only the
    overwrite's rows (Iceberg's OverwriteFiles retry)."""
    from lakekeeper_spark.catalog.catalog import CommitFailedException

    catalog.create_namespace("wh", ["ow"])
    catalog.create_table("wh", ["ow"], "t", SCHEMA)
    t1 = SparkTable(spark, catalog, "wh", ["ow"], "t")
    t2 = SparkTable(spark, catalog, "wh", ["ow"], "t")
    t1.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    orig = catalog.commit_table
    state = {"raced": False}

    def racy(wh, levels, name, req, upd):
        if not state["raced"]:
            state["raced"] = True
            t2.append(spark.createDataFrame([(2, "b")], "id long, v string"))
            raise CommitFailedException("raced")
        return orig(wh, levels, name, req, upd)

    catalog.commit_table = racy
    try:
        t1.overwrite(spark.createDataFrame([(7, "x"), (8, "y")], "id long, v string"))
    finally:
        catalog.commit_table = orig
    assert state["raced"]
    snaps = t1.metadata()["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == ["append", "append", "overwrite"]
    assert snaps[-1]["parent-snapshot-id"] == snaps[-2]["snapshot-id"]
    assert sorted(r.id for r in t1.scan().collect()) == [7, 8]


@pytest.mark.parametrize("fv", [2, 3])
def test_summary_counts_state_the_commit_delta(spark, catalog, fv):
    """Every commit verb's summary counts its own delta: ``added-*`` are
    the data entries new in the snapshot, ``total-data-files`` its data
    entries, and ``total-records`` the rows a scan reads wherever no
    delete is pending."""
    from lakekeeper_spark.format.icelite import diff_snapshots, snapshot_delete_entries

    catalog.create_namespace("wh", ["sum"], exists_ok=True)
    catalog.create_table("wh", ["sum"], f"t{fv}", SCHEMA, format_version=fv)
    t = SparkTable(spark, catalog, "wh", ["sum"], f"t{fv}")

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], "id long, v string"
        ).coalesce(2)

    t.append(rows(0, 20))
    t.append(rows(20, 30))
    t.delete_where("id < 3", mode="merge-on-read")
    t.update_where("id >= 25", {"v": "'u'"})  # copy-on-write
    t.delete_where("id = 10", mode="equality", equality_cols=["id"])
    t.rewrite_data_files(target_files=2)
    t.append(rows(40, 45), wap_id="w1")  # staged
    t.publish_wap("w1")
    t.create_branch("b")
    t.append(rows(50, 53), branch="b")
    t.cherry_pick(t.metadata()["refs"]["b"]["snapshot-id"])
    meta = t.metadata()
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    checked_totals = 0
    for s in meta["snapshots"]:
        summary = s["summary"]
        added = [
            e
            for e in diff_snapshots(by_id.get(s.get("parent-snapshot-id")), s)[0]
            if e.get("content", "data") == "data"
        ]
        data = [e for e in snapshot_entries(s) if e.get("content", "data") == "data"]
        assert summary["added-data-files"] == len(added), summary
        assert summary["added-records"] == sum(e["record-count"] for e in added), summary
        assert summary["total-data-files"] == len(data), summary
        assert summary["total-records"] == sum(e["record-count"] for e in data), summary
        if not snapshot_delete_entries(s):
            assert summary["total-records"] == t.scan(snapshot_id=s["snapshot-id"]).count()
            checked_totals += 1
    assert checked_totals >= 5
    assert by_id[max(by_id)]["summary"]["total-records"] == t.scan().count() == 34


def test_append_fast_path_opens_zero_manifests(spark, table):
    """The pure-ADD fast path: committing an append against an N-file
    table opens ZERO parent manifests (carried by descriptor), even
    with a cold cache — the strongest form of commit cost O(delta)."""
    for b in range(3):
        table.append(
            spark.createDataFrame(
                [(b, "x")], "id long, v string"
            ).coalesce(1)
        )
    manifest_cache_clear()
    table.append(spark.createDataFrame([(99, "y")], "id long, v string"))
    assert manifest_open_count() == 0
    assert table.scan().count() == 4


def test_descriptor_pooling_bounds_stored_blob(spark, catalog):
    """The metastore row stores descriptors ONCE (content-keyed pool):
    pack/unpack round-trips the document exactly, and the stored blob
    is O(snapshots + manifests) — far below the denormalized
    O(snapshots x manifests) in-memory size once history accumulates."""
    import json as _json

    from lakekeeper_spark.catalog.metadoc import pack_metadata, unpack_metadata

    catalog.create_namespace("wh", ["pool"])
    catalog.create_table("wh", ["pool"], "t", SCHEMA)
    t = SparkTable(spark, catalog, "wh", ["pool"], "t")
    for b in range(12):
        t.append(
            spark.createDataFrame([(b, "x")], "id long, v string").coalesce(1)
        )
    meta = t.metadata()
    # round-trip exactness (the engine always sees the denormal shape)
    assert unpack_metadata(pack_metadata(meta)) == meta
    packed, unpacked = len(pack_metadata(meta)), len(_json.dumps(meta))
    # 12 snapshots x up to 12 shared descriptors: the pool stores ~12
    # descriptors once; the denormalized doc repeats ~78 of them
    assert packed < unpacked * 0.45, (packed, unpacked)
    # what load_table returns is the rehydrated denormal document
    loaded, _ = catalog.load_table("wh", ["pool"], "t")
    assert loaded == meta
    # rehydrated snapshots do NOT share mutable descriptor dicts
    d1 = loaded["snapshots"][-1]["manifests"][0]
    d2 = loaded["snapshots"][-2]["manifests"][0]
    assert d1 == d2 and d1 is not d2
    assert t.scan().count() == 12


def test_pack_unpack_property_roundtrip():
    """Property: pack/unpack round-trips ANY metadata document whose
    snapshots carry descriptor lists — shared, unshared, empty, frid
    variations, interleaved with empty-descriptor and manifest-less
    snapshots — and never mutates its input."""
    import copy
    import json as _json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakekeeper_spark.catalog.metadoc import pack_metadata, unpack_metadata

    desc = st.fixed_dictionaries(
        {
            "path": st.text(min_size=1, max_size=8),
            "content": st.sampled_from(["data", "deletes"]),
            "added-files-count": st.integers(0, 5),
            "sequence-number": st.integers(0, 9),
        },
        optional={
            "first-row-id": st.integers(0, 100),
            "null-id-rows": st.integers(0, 50),
            "bounds": st.dictionaries(
                st.text(min_size=1, max_size=3),
                st.tuples(st.integers(), st.integers()).map(list),
                max_size=2,
            ),
        },
    )

    def snapshot(i, pool):
        return st.one_of(
            # descriptor snapshots: draw from the shared pool AND fresh
            st.fixed_dictionaries(
                {
                    "snapshot-id": st.just(i),
                    "manifests": st.lists(
                        st.one_of(st.sampled_from(pool), desc)
                        if pool
                        else desc,
                        max_size=4,
                    ),
                }
            ),
            st.fixed_dictionaries(
                {"snapshot-id": st.just(i), "manifests": st.just([])}
            ),
            st.fixed_dictionaries({"snapshot-id": st.just(i)}),
        )

    @st.composite
    def metas(draw):
        pool = draw(st.lists(desc, max_size=3))
        n = draw(st.integers(0, 5))
        return {
            "table-uuid": "u",
            "snapshots": [draw(snapshot(i, pool)) for i in range(n)],
        }

    @settings(max_examples=200, deadline=None)
    @given(metas())
    def check(meta):
        before = copy.deepcopy(meta)
        packed = pack_metadata(meta)
        assert meta == before, "pack mutated its input"
        assert unpack_metadata(packed) == meta
        # plain documents (no pooling) also pass through json round-trip
        assert unpack_metadata(_json.dumps(meta)) == meta

    check()


def test_cherry_pick_is_idempotent_on_paths(spark, catalog):
    """Review-2 fix: re-applying a cherry-pick (or picking an append
    already on the branch) must not duplicate rows under the pure-ADD
    fast path — files already on the head are filtered by path, as the
    old full-list commit did implicitly."""
    catalog.create_namespace("wh", ["cp"])
    catalog.create_table("wh", ["cp"], "t", SCHEMA)
    t = SparkTable(spark, catalog, "wh", ["cp"], "t")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    sid = t.metadata()["current-snapshot-id"]
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    pick_sid = t.metadata()["current-snapshot-id"]
    # picking the HEAD's own append onto the head: a data no-op
    t.cherry_pick(pick_sid)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]
    # and twice more for good measure
    t.cherry_pick(pick_sid)
    t.cherry_pick(sid)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]


def test_unpack_rejects_corrupt_pooled_docs():
    """Review-2 fix: structurally corrupt pooled documents raise
    ValueError (the class register/load callers already handle), never
    IndexError/TypeError."""
    import json as _json

    import pytest as _pt

    from lakekeeper_spark.catalog.metadoc import unpack_metadata

    bad = _json.dumps(
        {"manifest-descriptor-pool": [], "snapshots": [{"manifests-pooled": [5]}]}
    )
    with _pt.raises(ValueError, match="pooled"):
        unpack_metadata(bad)
    with _pt.raises(ValueError):
        unpack_metadata(_json.dumps(["not", "a", "doc"]))
