"""Scan/DML fast paths vs their fallback paths.

Several per-action driver barriers are replaced by metadata-gated fast
paths:

  - per-file values — equality-delete sequence tags and v3 lineage id/seq
    resolution, for scans and DML alike (``SparkTable._file_values``) —
    attach as LITERAL map expressions below ``SparkTable._PATH_MAP_MAX``
    (the broadcast join remains above the gate, and takes over when a path
    repeats with conflicting values);
  - small Puffin tombstone sets (<= ``icelite._DV_INLINE_POS_MAX``
    positions) anti-filter as one literal expression instead of a
    broadcast anti-join;
  - small equality-delete files (<= ``icelite._EQ_INLINE_ROWS_MAX`` rows)
    anti-filter as a literal IN-list instead of a broadcast anti-join;
  - a v3 merge-on-read DELETE/UPDATE/MERGE whose matched set and prior
    deletion vectors are small (``SparkTable._small_commit``) writes its
    deletion vectors in the driver lane instead of the distributed lane.

Every fast path must emit EXACTLY what its fallback emits — these tests
pin that by running the same lifecycle with the gates forced off.
"""

from __future__ import annotations

import logging

import pytest

from lakekeeper_spark.format import icelite
from lakekeeper_spark.format.icelite import SparkTable
from lakekeeper_spark.format.types import struct_to_schema

DDL = "id int, v double, s string"
ROWS = [(i, float(i), f"s{i % 7}") for i in range(40)]


def _lineage(t):
    return sorted(
        (r.id, r._row_id, r._last_updated_sequence_number)
        for r in t.scan(row_lineage=True).collect()
    )


def _lifecycle(spark, catalog, name, ns):
    """The c04-style mixed lifecycle: eq delete -> v3 upgrade -> two DV
    deletes -> MOR update -> MOR merge -> rewrite. Returns every
    observable the queries read."""
    catalog.create_namespace("wh", [ns], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(2)
    catalog.create_table("wh", [ns], name, struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", [ns], name)
    t.append(df)
    t.delete_where("id < 5", mode="equality", equality_cols=["id"])
    obs = [sorted(r.id for r in t.scan().collect())]
    t.append(df.filter("id < 3"))
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("id >= 30", mode="merge-on-read")
    obs.append(sorted(r.id for r in t.scan().collect()))
    t.delete_where("id % 2 = 0 AND id >= 10", mode="merge-on-read")
    obs.append(sorted(r.id for r in t.scan().collect()))
    t.update_where("id < 8", {"v": "v * 10"}, mode="merge-on-read")
    obs.append(sorted((r.id, r.v) for r in t.scan().collect()))
    # 11 and 13 match live rows, 100 is inserted
    src = spark.createDataFrame(
        [(11, 1.5, "m"), (13, 2.5, "m"), (100, 3.5, "new")], DDL
    )
    t.merge(
        src,
        "t.id = s.id",
        matched_update={"v": "s.v", "s": "s.s"},
        mode="merge-on-read",
    )
    obs.append(sorted((r.id, r.v, r.s) for r in t.scan().collect()))
    obs.append(_lineage(t))
    obs.append(t.delete_files().count())
    # summaries carry the deleted-row-id-ranges (driver-side numpy path)
    obs.append(
        [s["summary"].get("deleted-row-id-ranges") for s in t.metadata()["snapshots"]]
    )
    t.rewrite_position_deletes()
    obs.append(sorted((r.id, r.v, r.s) for r in t.scan().collect()))
    obs.append(_lineage(t))
    obs.append(
        sorted(
            ((-1 if r._row_id is None else r._row_id), r._change_type)
            for r in t.changelog_row_ids().collect()
        )
    )
    return obs


def test_fast_paths_match_fallback_paths(spark, catalog, monkeypatch):
    fast = _lifecycle(spark, catalog, "t_fast", "fp")
    # force every gate OFF: literal maps -> broadcast joins, inline
    # tombstone/equality filters -> broadcast anti-joins, driver DV lane
    # -> the distributed lane
    monkeypatch.setattr(SparkTable, "_PATH_MAP_MAX", -1)
    monkeypatch.setattr(icelite, "_DV_INLINE_POS_MAX", -1)
    monkeypatch.setattr(icelite, "_EQ_INLINE_ROWS_MAX", -1)
    monkeypatch.setattr(SparkTable, "_small_commit", lambda self, n, pos_like: False)
    slow = _lifecycle(spark, catalog, "t_slow", "fp")
    assert fast == slow


def test_inline_pos_filter_falls_back_on_decode_failure(
    spark, catalog, monkeypatch, caplog
):
    """A scan whose Puffin container can't be decoded driver-side must
    fall back to the distributed anti-join, not fail at plan time."""
    catalog.create_namespace("wh", ["fpf"], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(1)
    catalog.create_table("wh", ["fpf"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["fpf"], "t")
    t.append(df)
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("id >= 35", mode="merge-on-read")
    want = sorted(r.id for r in t.scan().collect())

    import lakekeeper_spark.format.dv as dv_mod

    real = dv_mod.read_deletion_vectors_cached

    def guarded(path, _real=real):
        import inspect

        # fail only the driver-side (plan-time) decode; executor tasks
        # pickle the dv module fresh, so this patch never reaches them
        for fr in inspect.stack():
            if fr.function == "_inline_pos_filter":
                raise RuntimeError("driver decode unavailable")
        return _real(path)

    monkeypatch.setattr(dv_mod, "read_deletion_vectors_cached", guarded)
    with caplog.at_level(logging.WARNING, logger=icelite.__name__):
        got = sorted(r.id for r in t.scan().collect())
    assert got == want
    assert any(
        "anti-join lane" in r.getMessage()
        and "driver decode unavailable" in r.getMessage()
        for r in caplog.records
    )


def test_scan_report_failure_is_logged_not_raised(
    spark, catalog, monkeypatch, caplog
):
    """A catalog whose report_metrics raises must not fail the scan; the
    failure is logged at WARNING with its traceback."""
    catalog.create_namespace("wh", ["rep"], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(1)
    catalog.create_table("wh", ["rep"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["rep"], "t")
    t.append(df)

    def broken(*args, **kwargs):
        raise RuntimeError("metrics sink down")

    monkeypatch.setattr(catalog, "report_metrics", broken)
    with caplog.at_level(logging.WARNING, logger=icelite.__name__):
        assert t.scan().count() == len(ROWS)
    recs = [r for r in caplog.records if "scan report" in r.getMessage()]
    assert len(recs) == 1 and "metrics sink down" in recs[0].getMessage()
    assert recs[0].exc_info is not None


def test_row_id_ranges_literal_cases(spark):
    """Row-id range derivation on literal cases, including the
    range-count cap, the NULL bail-out and the row-count bound."""
    from pyspark.sql import functions as F

    t = SparkTable.__new__(SparkTable)
    t.spark = spark
    cases = [
        ([1, 2, 3, 7, 8, 20], [[1, 3], [7, 8], [20, 20]]),
        ([5], [[5, 5]]),
        (
            list(range(100, 200)) + [500, 502, 504],
            [[100, 199], [500, 500], [502, 502], [504, 504]],
        ),
        ([0, 2, 4, 6, 8, 10], [[i, i] for i in range(0, 11, 2)]),
    ]
    for ids, want in cases:
        # shuffled input: the derivation must not depend on row order
        df = spark.createDataFrame([(i,) for i in reversed(ids)], "_row_id long")
        assert t._row_id_ranges(df) == want, ids
    # NULL id -> not rangeable
    df = spark.createDataFrame([(1,), (None,)], "_row_id long")
    assert t._row_id_ranges(df) is None
    # range-count cap: _MAX_RANGES scattered ids record, one more doesn't
    for n, ok in ((SparkTable._MAX_RANGES, True), (SparkTable._MAX_RANGES + 1, False)):
        sparse = spark.range(n).select((F.col("id") * 3).alias("_row_id"))
        got = t._row_id_ranges(sparse)
        assert got == ([[3 * i, 3 * i] for i in range(n)] if ok else None)
    # empty and over-bound id sets record nothing
    assert t._row_id_ranges(spark.range(0).toDF("_row_id")) is None
    t._MAX_RANGE_ROWS = 2
    assert t._row_id_ranges(spark.range(3).toDF("_row_id")) is None


def test_inline_eq_filter_null_keys_fall_back(spark, tmp_path):
    """An eligible-sized equality delete with mixed NULL/non-NULL keys
    must return None (join path, eqNullSafe semantics) — and must not
    raise: sorting mixed None/value tuples is a TypeError, so the NULL
    bail-out has to run before the sort (ADVICE r17)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SparkTable.__new__(SparkTable)
    t.spark = spark
    pq.write_table(
        pa.table({"id": pa.array([3, None, 1], type=pa.int64())}),
        str(tmp_path / "eq_null.parquet"),
    )
    meta = {"location": str(tmp_path)}
    e = {"record-count": 3, "path": "eq_null.parquet", "sequence-number": 5}
    assert t._inline_eq_filter(meta, e, [("id", "long", "id")]) is None
    # all-non-NULL keys of the same shape stay on the inline path
    pq.write_table(
        pa.table({"id": pa.array([3, 2, 1], type=pa.int64())}),
        str(tmp_path / "eq_ok.parquet"),
    )
    e2 = {"record-count": 3, "path": "eq_ok.parquet", "sequence-number": 5}
    assert t._inline_eq_filter(meta, e2, [("id", "long", "id")]) is not None


def test_path_map_expr_tolerates_duplicate_paths(spark, caplog):
    """Duplicate manifest paths must not trip DUPLICATED_MAP_KEY under
    the default spark.sql.mapKeyDedupPolicy=EXCEPTION (ADVICE r17): the
    literal map dedupes pairs the way the join fallback tolerated them.
    A path repeated with CONFLICTING values has no single map value: no
    map is built (the caller takes the broadcast join) and a warning
    names the path."""
    from pyspark.sql import functions as F

    col = SparkTable._path_map_expr([("a", 1), ("a", 1), ("b", None)])
    row = spark.range(1).select(
        F.try_element_at(col, F.lit("a")).alias("va"),
        F.try_element_at(col, F.lit("b")).alias("vb"),
    ).collect()[0]
    assert row.va == 1 and row.vb is None
    with caplog.at_level(logging.WARNING, logger=icelite.__name__):
        assert SparkTable._path_map_expr([("a", 1), ("b", 2), ("a", 3)]) is None
        assert SparkTable._path_map_expr([("a", None), ("a", 0)]) is None
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 2 and all("broadcast-join lane" in m and "'a'" in m for m in msgs)


def test_driver_dv_lane_failure_falls_back_without_orphans(
    spark, catalog, monkeypatch, caplog
):
    """A driver DV lane that fails on its second container write (a
    commit referencing more files than one container holds) deletes what
    it wrote; the commit lands through the distributed lane and leaves
    no unreferenced file under data/deletes/."""
    from pathlib import Path

    import lakekeeper_spark.format.dv as dv_mod

    n_files = icelite._DV_BLOBS_PER_CONTAINER + 8
    catalog.create_namespace("wh", ["dvf"], exists_ok=True)
    df = spark.range(0, 2 * n_files, 1, n_files).selectExpr(
        "cast(id as int) id", "cast(id as double) v", "'x' s"
    )
    catalog.create_table(
        "wh", ["dvf"], "t", struct_to_schema(df.schema), format_version=3
    )
    t = SparkTable(spark, catalog, "wh", ["dvf"], "t")
    t.append(df)
    assert t.files_count() == n_files

    real = dv_mod.write_deletion_vector_blobs
    calls = []

    def flaky(path, *args, **kwargs):
        # executor tasks import the dv module fresh, so only the driver
        # lane's writes pass through here
        calls.append(path)
        if len(calls) == 2:
            raise OSError("injected container write failure")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(dv_mod, "write_deletion_vector_blobs", flaky)
    with caplog.at_level(logging.WARNING, logger=icelite.__name__):
        t.delete_where("id % 2 = 0", mode="merge-on-read")
    assert len(calls) == 2
    assert any("driver DV lane failed" in r.getMessage() for r in caplog.records)

    assert sorted(r.id for r in t.scan().collect()) == list(range(1, 2 * n_files, 2))
    meta = t.metadata()
    loc = Path(meta["location"].replace("file://", ""))
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    dvs = icelite.snapshot_delete_entries(snap)
    assert len(dvs) == 2  # 512 + 8 blobs
    assert sum(len(e["referenced-files"]) for e in dvs) == n_files
    on_disk = {
        p.relative_to(loc).as_posix()
        for p in (loc / "data" / "deletes").rglob("*")
        if p.is_file()
    }
    assert on_disk == {e["path"] for e in dvs}
    assert [p for p in (loc / "data" / "deletes").iterdir() if not any(p.iterdir())] == []


# Spark jobs per MOR op on a warm session (400-row v3 table, two files),
# measured identically on two runs. Before the shared MOR commit path
# the same ops took delete 3, update 4, merge 18; before one DML body per
# verb (the matched join checkpointed once, images read from it) merge
# took 8. An insert-only MERGE (no matched_update) commits an append of
# its anti-join; before, it ran the full MERGE's 7 jobs.
_MOR_JOBS = {"delete": 3, "update": 4, "merge": 7, "merge_insert": 2}


def test_mor_commit_job_counts(spark, catalog, spark_jobs):
    """Deterministic job-count guard for the MOR commit path: each op
    runs under its own job group and must not take more Spark jobs than
    recorded in _MOR_JOBS."""
    jobs = spark_jobs
    catalog.create_namespace("wh", ["jobs"], exists_ok=True)

    def cycle(name):
        df = spark.range(400).selectExpr(
            "cast(id as int) id", "cast(id as double) v", "concat('s', id % 7) s"
        ).coalesce(2)
        catalog.create_table(
            "wh", ["jobs"], name, struct_to_schema(df.schema), format_version=3
        )
        t = SparkTable(spark, catalog, "wh", ["jobs"], name)
        t.append(df)
        assert t.files_count() == 2
        src = spark.createDataFrame(
            [(i, -1.0, "m") for i in range(100, 120)] + [(1000, -1.0, "new")], DDL
        )
        new_key = spark.createDataFrame([(2000, -2.0, "ins")], DDL)
        got = {
            "delete": jobs(lambda: t.delete_where("id >= 380", mode="merge-on-read")),
            "update": jobs(
                lambda: t.update_where("id < 20", {"v": "v + 1"}, mode="merge-on-read")
            ),
            "merge": jobs(
                lambda: t.merge(
                    src, "t.id = s.id", matched_update={"v": "s.v"}, mode="merge-on-read"
                )
            ),
        }
        rows = {r.id: r.v for r in t.scan().collect()}
        assert len(rows) == 381 and rows[1000] == -1.0 and rows[110] == -1.0
        assert rows[5] == 6.0 and 380 not in rows
        got["merge_insert"] = jobs(
            lambda: t.merge(src.union(new_key), "t.id = s.id", mode="merge-on-read")
        )
        assert t.scan().count() == 382
        return got

    cycle("warmup")
    got = cycle("measured")
    assert all(got[op] <= limit for op, limit in _MOR_JOBS.items()), got


# Spark jobs per read and copy-on-write op on a warm session (400-row
# table, two files; v3 after a MOR delete), measured identically on two
# runs. Before the one live-row read, the v3 lineage scan took 3 jobs (its
# own broadcast lineage join). Before one DML body per verb, the
# copy-on-write merge took 11: its file targeting ran as a separate
# left-semi join, planned as a sort-merge join. An insert-only MERGE
# commits an append of its anti-join; before, it ran the full MERGE's 8.
_READ_JOBS = {
    3: {
        "scan": 2,
        "lineage_scan": 2,
        "changelog_lineage": 4,
        "changelog_row_ids": 4,
        "cow_delete": 3,
        "cow_update": 3,
        "cow_merge": 8,
        "cow_merge_insert": 2,
    },
    2: {
        "scan": 2,
        "changelog": 2,
        "cow_delete": 3,
        "cow_update": 3,
        "cow_merge": 8,
        "cow_merge_insert": 2,
    },
}


def test_read_and_cow_job_counts(spark, catalog, spark_jobs):
    """Deterministic job-count guard for the live-row read and the
    copy-on-write DML that builds on it: each op must not take more
    Spark jobs than recorded in _READ_JOBS."""
    catalog.create_namespace("wh", ["rjobs"], exists_ok=True)

    def cycle(name, fv):
        df = spark.range(400).selectExpr(
            "cast(id as int) id", "cast(id as double) v", "concat('s', id % 7) s"
        ).coalesce(2)
        catalog.create_table(
            "wh", ["rjobs"], name, struct_to_schema(df.schema), format_version=fv
        )
        t = SparkTable(spark, catalog, "wh", ["rjobs"], name)
        t.append(df)
        assert t.files_count() == 2
        if fv >= 3:
            t.delete_where("id >= 380", mode="merge-on-read")
        src = spark.createDataFrame(
            [(i, -1.0, "m") for i in range(100, 120)] + [(1000, -1.0, "new")], DDL
        )
        new_key = spark.createDataFrame([(2000, -2.0, "ins")], DDL)
        got = {"scan": spark_jobs(lambda: t.scan().count())}
        if fv >= 3:
            got["lineage_scan"] = spark_jobs(lambda: t.scan(row_lineage=True).count())
            got["changelog_lineage"] = spark_jobs(
                lambda: t.changelog(row_lineage=True).count()
            )
            got["changelog_row_ids"] = spark_jobs(lambda: t.changelog_row_ids().count())
        else:
            got["changelog"] = spark_jobs(lambda: t.changelog().count())
        got["cow_delete"] = spark_jobs(lambda: t.delete_where("id >= 360 AND id < 370"))
        got["cow_update"] = spark_jobs(lambda: t.update_where("id < 20", {"v": "v + 1"}))
        got["cow_merge"] = spark_jobs(
            lambda: t.merge(src, "t.id = s.id", matched_update={"v": "s.v"})
        )
        rows = {r.id: r.v for r in t.scan().collect()}
        assert len(rows) == (371 if fv >= 3 else 391)
        assert rows[1000] == -1.0 and rows[110] == -1.0 and rows[5] == 6.0
        got["cow_merge_insert"] = spark_jobs(
            lambda: t.merge(src.union(new_key), "t.id = s.id")
        )
        assert t.scan().count() == len(rows) + 1
        return got

    got = {}
    for fv in (3, 2):
        cycle(f"warmup{fv}", fv)
        got[fv] = cycle(f"measured{fv}", fv)
    assert all(
        got[fv][op] <= limit for fv in got for op, limit in _READ_JOBS[fv].items()
    ), got
