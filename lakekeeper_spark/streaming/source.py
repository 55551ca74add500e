"""icelite as a Spark 4 Python DataSource: streaming source, batch
reader and two-phase writers — a thin shell over format/icelite.

Iceberg tables are streamable: an engine reads the snapshot log and emits
each commit's changes as a micro-batch (Iceberg's Spark streaming read;
the reference's catalog serves the metadata that planning walks). Every
piece of table logic lives in icelite; this module only maps it onto the
DataSource API:

  - offsets are snapshot ids (JSON dicts), resolved on the DRIVER from
    the catalog — metadata-sized work only. `partitions(start, end)`
    plans the commits in (start, end] with icelite's one lineage walk
    (_main_lineage) and turns them into file scan tasks (icelite's
    file_scan_task, the contract plan_table_scan and the REST plan
    endpoint serve):
      - the default mode streams the data files ADDED by append commits;
        replace commits (compaction) add no logical rows and are skipped,
        other commits raise unless `skip-delete-snapshots=true`
        (Iceberg's streaming-skip-delete-snapshots);
      - `change-feed=true` streams insert/delete events of every commit,
        merge-on-read included, from icelite.plan_changes — the same
        change groups SparkTable.changelog reads;
      - `lineage-events=true` streams (_row_id, _change_type,
        _commit_snapshot_id) from icelite.plan_lineage_events, as
        SparkTable.changelog_row_ids does: covered commits need no file.
  - `read(partition)` runs on EXECUTORS: every file partition is one
    `_TaskPartition` read by `_read_task_batches` into pyarrow record
    batches (delete artifacts applied, CDC restrictions honored) — no
    driver data path.
  - writers stage parquet files on executors and commit them with
    icelite's one optimistic append loop (SparkTable._commit_files).

Restartability comes from Spark's checkpoint: the committed offset is a
snapshot id, so a restarted query resumes from the last snapshot it saw.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


class _RangeEventsPartition(InputPartition):
    """lineage-events mode: one batch of (_row_id, _change_type,
    _commit_snapshot_id) events generated straight from METADATA row-id
    ranges — no file is opened (insert events from a file's claimed
    range, delete events from the commit summary's
    deleted-row-id-ranges)."""

    def __init__(
        self, ranges: list[tuple[int, int]], change_type: str, commit_id: int
    ):
        self.ranges = ranges  # inclusive [start, end] pairs
        self.change_type = change_type
        self.commit_id = commit_id


def _range_event_batches(p: "_RangeEventsPartition"):
    import numpy as np
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("_row_id", pa.int64()),
            pa.field("_change_type", pa.string()),
            pa.field("_commit_snapshot_id", pa.int64()),
        ]
    )
    chunk = 1 << 16
    for s, e in p.ranges:
        n = e - s + 1
        for off in range(0, n, chunk):
            m = min(chunk, n - off)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(s + off, s + off + m, dtype=np.int64)),
                    pa.array([p.change_type] * m, type=pa.string()),
                    pa.array([p.commit_id] * m, type=pa.int64()),
                ],
                schema=schema,
            )


def _table(options: dict):
    """A metadata-only icelite handle (no SparkSession: planning and
    commits never touch .spark) on either a library Catalog (option
    `metastore`) or an Iceberg-REST endpoint (option `rest-url`) — the
    stock-engine topology: the driver PLANS and commits against the HTTP
    catalog while executors read and write storage directly."""
    from ..format.icelite import SparkTable

    if options.get("rest-url"):
        from ..rest.client import RestCatalogClient

        cat = RestCatalogClient(options["rest-url"])
    else:
        from ..catalog.catalog import Catalog
        from ..catalog.metastore import Metastore

        cat = Catalog(Metastore(options["metastore"]))
    return SparkTable(
        None, cat, options["warehouse"], options["namespace"].split("."), options["table"]
    )


def _schema_doc(meta: dict[str, Any]) -> dict[str, Any]:
    return next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])


def _fid_map(schema_doc: dict[str, Any]) -> dict[int, str]:
    """field-id -> name for a schema document; legacy docs without ids
    fall back to positional ids (stable within one table's history)."""
    out: dict[int, str] = {}
    for i, f in enumerate(schema_doc.get("fields", [])):
        out[f.get("id", i + 1)] = f["name"]
    return out


def _arrow_schema_of(
    schema_doc: dict[str, Any], cdc: bool = False, lineage: bool = False
):
    """pa.Schema matching the DataSource's declared Spark schema — built
    on the DRIVER and shipped inside each partition so executors emit
    `pyarrow.RecordBatch`es Spark ingests without a Python row loop.
    Returns None for types Arrow can't carry (variant); the reader then
    falls back to row tuples for that table only.

    Built SESSION-FREE straight from the Iceberg types: the streaming
    planner runs in a subprocess with no active SparkSession, where the
    DDL-parse route (pandas to_arrow_schema over schema_to_struct)
    always threw and silently forced every stream onto the row
    fallback. Primitive mapping mirrors Spark's arrow conversion
    (timestamptz as UTC — the engine pins the session to UTC)."""
    try:
        import pyarrow as pa

        def prim(t: str):
            if t.startswith("decimal"):
                p, sc = t[t.index("(") + 1 : t.index(")")].split(",")
                return pa.decimal128(int(p), int(sc.strip()))
            return {
                "boolean": pa.bool_(),
                "int": pa.int32(),
                "long": pa.int64(),
                "float": pa.float32(),
                "double": pa.float64(),
                "date": pa.date32(),
                "timestamp": pa.timestamp("us"),
                "timestamptz": pa.timestamp("us", tz="UTC"),
                "string": pa.string(),
                "uuid": pa.string(),
                "binary": pa.binary(),
            }[t]

        def conv(t):
            if isinstance(t, str):
                return prim(t)
            kind = t.get("type")
            if kind == "list":
                return pa.list_(conv(t["element"]))
            if kind == "map":
                return pa.map_(conv(t["key"]), conv(t["value"]))
            if kind == "struct":
                return pa.struct(
                    [
                        pa.field(
                            f["name"],
                            conv(f["type"]),
                            nullable=not f.get("required", False),
                        )
                        for f in t["fields"]
                    ]
                )
            raise ValueError(f"no arrow type for {t!r}")

        sch = pa.schema(
            [
                pa.field(
                    f["name"],
                    conv(f["type"]),
                    nullable=not f.get("required", False),
                )
                for f in schema_doc["fields"]
            ]
        )
        if lineage:
            sch = sch.append(pa.field("_row_id", pa.int64()))
        if cdc:
            sch = sch.append(pa.field("_change_type", pa.string())).append(
                pa.field("_commit_snapshot_id", pa.int64())
            )
        return sch
    except Exception:
        return None


def _partition_scalar(v, pa_type):
    """Manifest partition values are strings (hive dir segments); coerce
    to the python value Arrow expects for the declared column type —
    int/float plus the date/boolean cases the writer accepts."""
    if v is None:
        return None
    import pyarrow.types as pt

    if pt.is_integer(pa_type):
        return int(v)
    if pt.is_floating(pa_type):
        return float(v)
    if pt.is_date(pa_type):
        import datetime

        return v if isinstance(v, datetime.date) else datetime.date.fromisoformat(str(v))
    if pt.is_boolean(pa_type):
        return v if isinstance(v, bool) else str(v).lower() == "true"
    return str(v)


class IceliteStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.skip_deletes = (
            str(options.get("skip-delete-snapshots", "false")).lower() == "true"
        )
        # change-feed=true: emit CDC rows (`_change_type` insert|delete,
        # `_commit_snapshot_id`) instead of append-only rows — the
        # STREAMING twin of SparkTable.changelog() (Iceberg's
        # create_changelog_view), driven by the same snapshot-log offsets.
        # Update pairing (update_preimage/update_postimage) is a per-batch
        # post-transform: apply icelite.pair_update_images inside
        # foreachBatch — safe because a commit's events never split
        # across micro-batches (offsets are snapshot ids)
        self.change_feed = (
            str(options.get("change-feed", "false")).lower() == "true"
        )
        # row-lineage=true (v3 tables): every emitted row carries its
        # _row_id — appended AFTER the data columns, BEFORE the CDC tail
        # (same order as SparkTable.changelog(row_lineage=True)); change
        # feeds can then pair update images by id in foreachBatch
        self.row_lineage = (
            str(options.get("row-lineage", "false")).lower() == "true"
        )
        # lineage-events=true: emit ONLY (_row_id, _change_type,
        # _commit_snapshot_id) — the metadata-only CDC key stream, the
        # streaming twin of SparkTable.changelog_row_ids(). Covered
        # commits plan as pure range partitions (no file opened);
        # uncovered ones fall back to the regular CDC file tasks with an
        # EMPTY column target, so only the files a content read truly
        # needs are touched.
        self.lineage_events = (
            str(options.get("lineage-events", "false")).lower() == "true"
        )
        if self.lineage_events:
            self.row_lineage = True

    # ---- driver-side planning ------------------------------------------
    def initialOffset(self) -> dict:
        return {"snapshot-id": 0}

    def latestOffset(self) -> dict:
        meta = _table(self.options).metadata()
        ref = meta["refs"].get("main")
        return {"snapshot-id": ref["snapshot-id"] if ref else 0}

    def partitions(self, start: dict, end: dict):
        from ..format.icelite import plan_changes

        meta = _table(self.options).metadata()
        # offset 0 is the start of the stream, before the first snapshot
        lo, hi = start["snapshot-id"] or None, end["snapshot-id"]
        if self.row_lineage and meta.get("format-version", 2) < 3:
            raise ValueError(
                "row-lineage=true (and lineage-events) requires "
                f"format-version >= 3 (table is "
                f"v{meta.get('format-version', 2)})"
            )
        # the lineage-events key stream has no data columns
        target_doc = {"fields": []} if self.lineage_events else _schema_doc(meta)
        target = [
            (f.get("id", i + 1), f["name"])
            for i, f in enumerate(target_doc["fields"])
        ]
        self._aschema = _arrow_schema_of(
            target_doc,
            cdc=self.change_feed or self.lineage_events,
            lineage=self.row_lineage,
        )
        if self.lineage_events:
            parts = self._lineage_event_parts(meta, lo, hi, target)
        elif self.change_feed:
            parts = [
                p
                for g in plan_changes(meta, lo, hi)
                for p in self._group_parts(meta, g, target)
            ]
        else:
            parts = self._group_parts(
                meta, {"entries": self._appended(meta, lo, hi), "deletes": []}, target
            )
        # Spark requires >=1 partition per batch; an empty one reads nothing
        return parts or [_RangeEventsPartition([], "insert", 0)]

    def _appended(self, meta, lo, hi) -> list[dict]:
        """Data files added by the append commits in (lo, hi]. A replace
        commit (compaction) adds no logical rows; any other commit raises
        unless skip-delete-snapshots is set (Iceberg parity). The
        descriptor-level diff opens only the manifests NEW to each commit
        (O(delta) per micro-batch)."""
        from ..format.icelite import _commit_diff, _main_lineage, _split_manifest

        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        out: list[dict] = []
        for snap in _main_lineage(meta, lo, hi):
            op = snap["summary"].get("operation")
            if op == "replace" or (op != "append" and self.skip_deletes):
                continue
            if op != "append":
                raise ValueError(
                    f"streaming read hit a {op!r} snapshot "
                    f"{snap['snapshot-id']}; set skip-delete-snapshots=true "
                    "to skip non-append commits (Iceberg parity)"
                )
            out += _split_manifest(_commit_diff(by_id, snap)[1])[0]
        return out

    def _group_parts(self, meta, g, target) -> list["_TaskPartition"]:
        """Executor partitions for one icelite.plan_changes group (or a
        plain entry list, with no ``change``): one file scan task per data
        entry, masked by the group's delete artifacts, tagged with the
        group's change type and commit, restricted like the group."""
        inc_pos, inc_eq = g.get("include-pos"), g.get("include-eq")
        return _task_partitions(
            meta,
            _scan_tasks(g["entries"], g["deletes"]),
            self._aschema,
            target_override=target,
            change_type=g.get("change"),
            commit_id=g.get("snapshot-id"),
            include_pos=(
                None
                if inc_pos is None
                else tuple([e["path"] for e in es] for es in inc_pos)
            ),
            include_eq=None if inc_eq is None else _eq_include_spec(meta, inc_eq),
            row_lineage=self.row_lineage,
        )

    def _lineage_event_parts(self, meta, lo, hi, target) -> list:
        """Metadata-only CDC planning, streaming form: consumes the SAME
        pure plan as SparkTable.changelog_row_ids
        (format/icelite.plan_lineage_events) and maps it onto partitions:

          - insert-ranges / delete-ranges -> range partitions (NO file
            opened; large commits split into ~1M-row partitions for
            parallelism);
          - insert-file-entries (MoR update/merge images, preserved
            rewrites) -> file partitions with an EMPTY column target
            (only those files read, never the parent state);
          - targeted-diff commits (pure CoW rewrites) -> delete events
            from the plan's delete-file-entries masked by its
            delete-mask-entries, so already-dead rows stay out and the
            parent state is never scanned; inserts as above;
          - content-fallback commits -> that one commit's plan_changes
            groups, column target empty.
        """
        from ..format.icelite import plan_changes, plan_lineage_events

        parts: list = []
        rows_per_part = 1 << 20

        def _range_parts(ranges, change, sid):
            cur: list[tuple[int, int]] = []
            acc = 0
            for a, b in ranges:
                s, e = int(a), int(b)
                while e - s + 1 > rows_per_part:
                    parts.append(
                        _RangeEventsPartition(
                            [(s, s + rows_per_part - 1)], change, sid
                        )
                    )
                    s += rows_per_part
                cur.append((s, e))
                acc += e - s + 1
                if acc >= rows_per_part:
                    parts.append(_RangeEventsPartition(cur, change, sid))
                    cur, acc = [], 0
            if cur:
                parts.append(_RangeEventsPartition(cur, change, sid))

        for plan in plan_lineage_events(meta, lo, hi):
            sid = plan["snapshot-id"]
            # targeted-diff FIRST: those commits also carry
            # content-fallback=True for consumers that predate the
            # targeted keys (round-14 wire contract)
            if plan.get("targeted-diff"):
                parts += self._group_parts(meta, {
                    "change": "delete",
                    "snapshot-id": sid,
                    "entries": plan["delete-file-entries"],
                    "deletes": plan["delete-mask-entries"],
                }, target)
            elif plan["content-fallback"]:
                for g in plan_changes(meta, plan["parent-snapshot-id"], sid):
                    parts += self._group_parts(meta, g, target)
                continue
            if plan["insert-ranges"]:
                _range_parts(plan["insert-ranges"], "insert", sid)
            parts += self._group_parts(meta, {
                "change": "insert",
                "snapshot-id": sid,
                "entries": plan["insert-file-entries"],
                "deletes": [],
            }, target)
            if plan["delete-ranges"]:
                _range_parts(plan["delete-ranges"], "delete", sid)
        return parts

    def commit(self, end: dict) -> None:
        pass  # offsets are snapshot ids; nothing to clean up

    # ---- executor-side reading -----------------------------------------
    def read(self, partition):
        """Arrow-batched executor read: yields `pyarrow.RecordBatch`es
        (Spark 4 Python DataSource fast path — no per-row Python loop).
        Lineage-event range partitions are generated from metadata;
        every file partition is a file scan task (_read_task_batches)."""
        if isinstance(partition, _RangeEventsPartition):
            yield from _range_event_batches(partition)
        else:
            yield from _read_task_batches(partition)


def _lineage_array(stored, first_row_id, base_ordinal: int, n: int, sel):
    """The v3 _row_id column for one batch (spec per-row inheritance):
    the file's stored ``_row_id`` where non-null, else first-row-id +
    the row's ORIGINAL ordinal; ``sel`` restricts to the kept ordinals
    after tombstone masking (ids follow the surviving rows). Vectorized
    (numpy + arrow compute), no row loop."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ords = (
        np.arange(base_ordinal, base_ordinal + n)
        if sel is None
        else base_ordinal + sel
    )
    if first_row_id is None:
        inherited = pa.nulls(len(ords), pa.int64())
    else:
        inherited = pa.array(first_row_id + ords, type=pa.int64())
    if stored is None:
        return inherited
    if sel is not None:
        stored = stored.take(pa.array(sel))
    return pc.coalesce(pc.cast(stored, pa.int64()), inherited)


def _project_column(arr, pa_type, n: int, pvalue=None):
    """One output column of a batch: the file's column cast to the
    declared type; absent columns are the manifest partition value
    (constant) or NULL — vectorized, no row loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr is not None:
        return arr if arr.type == pa_type else pc.cast(arr, pa_type)
    if pvalue is not None:
        return pa.array([_partition_scalar(pvalue, pa_type)] * n, type=pa_type)
    return pa.nulls(n, pa_type)


class IceliteStreamDataSource(DataSource):
    """spark.readStream.format("icelite").option(...) source.

    Options: metastore (sqlite path), warehouse, namespace (dotted),
    table, skip-delete-snapshots."""

    @classmethod
    def name(cls) -> str:
        return "icelite"

    def schema(self) -> str:
        from ..format.types import is_legacy_schema, spark_ddl_of

        if str(self.options.get("lineage-events", "false")).lower() == "true":
            # the metadata-only CDC key stream: no data columns at all
            return (
                "`_row_id` bigint, `_change_type` string, "
                "`_commit_snapshot_id` bigint"
            )
        cur = _schema_doc(_table(self.options).metadata())
        leg = is_legacy_schema(cur)
        cols = ", ".join(
            f"`{f['name']}` {spark_ddl_of(f['type'], legacy=leg)}" for f in cur["fields"]
        )
        if str(self.options.get("row-lineage", "false")).lower() == "true":
            cols += ", `_row_id` bigint"
        if str(self.options.get("change-feed", "false")).lower() == "true":
            cols += ", `_change_type` string, `_commit_snapshot_id` bigint"
        return cols

    def streamReader(self, schema) -> IceliteStreamReader:
        return IceliteStreamReader(self.options)

    def reader(self, schema) -> "IceliteBatchReader":
        """spark.read.format("icelite") — BATCH merge-on-read scans driven
        entirely by PlanTableScan file tasks (options additionally:
        snapshot-id / ref / partition-filter as a JSON dict)."""
        return IceliteBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> "IceliteBatchWriter":
        """df.write.format("icelite") — the two-phase distributed commit
        protocol (executors write files + return manifest entries, the
        driver runs the optimistic-concurrency commit loop)."""
        return IceliteBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "IceliteStreamSinkWriter":
        """writeStream.format("icelite") — exactly-once streaming appends
        (epoch-stamped snapshots, replay-safe)."""
        return IceliteStreamSinkWriter(self.options, schema, overwrite)


def json_offset(d: dict) -> str:  # debugging helper
    return json.dumps(d, sort_keys=True)


# ---------------------------------------------------------------- batch
class _TaskPartition(InputPartition):
    """One file scan task (icelite.file_scan_task, the PlanTableScan task
    shape): the data file plus exactly the delete artifacts an
    independent reader must apply (resolved driver-side so executors
    touch only storage). Every file partition of the stream source and
    the batch reader is one of these. CDC additions: `change_type`/
    `commit_id` tag every surviving row as one change event;
    `include_pos` = (new tombstone paths, re-stated tombstone paths)
    restricts output to positions newly deleted by a commit;
    `include_eq` = (delete-file path, [(write name, field id)])
    restricts output to rows matching a newly-added equality delete."""

    def __init__(
        self,
        location: str,
        task: dict,
        fid_to_wname: dict[int, str],
        target_fields: list[tuple[int, str]],
        arrow_schema,
        partition_values: dict,
        partition_types: dict,
        eq_read: list[list[tuple[str, int]]],
        change_type: str | None = None,
        commit_id: int | None = None,
        include_pos: tuple[list[str], list[str]] | None = None,
        include_eq: tuple[str, list[tuple[str, int]]] | None = None,
        row_lineage: bool = False,
    ):
        self.location = location
        self.task = task
        # data file's write schema as field-id -> write-time name: data
        # columns AND equality-delete comparison columns resolve by id,
        # so renames never resurrect deleted rows
        self.fid_to_wname = fid_to_wname
        self.target_fields = target_fields  # [(field-id, target name)]
        self.arrow_schema = arrow_schema
        self.partition_values = partition_values
        self.partition_types = partition_types
        # per equality-delete file: [(column name IN THE DELETE FILE,
        # field id)] — the name reads the tombstone, the id finds the
        # matching data column
        self.eq_read = eq_read
        self.change_type = change_type
        self.commit_id = commit_id
        self.include_pos = include_pos
        self.include_eq = include_eq
        # v3 row lineage: emit _row_id (stored column wins, else the
        # data file's claimed range start + row ordinal)
        self.row_lineage = row_lineage
        self.first_row_id = task["data-file"].get("first-row-id")


def _task_partitions(
    meta: dict,
    tasks: list[dict],
    arrow_schema,
    target_override: list | None = None,
    **cdc,
) -> list[_TaskPartition]:
    """Resolve file scan tasks into executor partitions: the data
    file's write schema (field-id map) and each equality-delete file's
    (write name, field id) read spec, all from table metadata on the
    driver. `cdc` kwargs pass through to _TaskPartition."""
    target_doc = _schema_doc(meta)
    target = (
        target_override
        if target_override is not None
        else [
            (f.get("id", i + 1), f["name"])
            for i, f in enumerate(target_doc["fields"])
        ]
    )
    ptypes = {
        f["name"]: f["type"]
        for f in target_doc["fields"]
        if isinstance(f["type"], str)
    }
    by_sid = {s["schema-id"]: s for s in meta["schemas"]}
    cur_sid = meta["current-schema-id"]
    parts = []
    for task in tasks:
        d = task["data-file"]
        dsid = d.get("schema-id")
        ws = by_sid.get(cur_sid if dsid is None else dsid, by_sid[cur_sid])
        eq_read = [_eq_include_spec(meta, eq)[1] for eq in task["equality-delete-files"]]
        parts.append(
            _TaskPartition(
                meta["location"],
                task,
                _fid_map(ws),
                target,
                arrow_schema,
                d.get("partition", {}),
                ptypes,
                eq_read,
                **cdc,
            )
        )
    return parts


def _scan_tasks(entries: list[dict], masks: list[dict]) -> list[dict]:
    """One file scan task per data entry, with the ``masks`` artifacts
    that address it attached — the matching rules and task shape come
    from icelite.file_scan_task, ONE source of truth with
    plan_table_scan, applied to change-sized entry lists."""
    from ..format.icelite import file_scan_task

    pos_like = [d for d in masks if d.get("content") != "equality-deletes"]
    eq_dels = [d for d in masks if d.get("content") == "equality-deletes"]
    return [file_scan_task(e, pos_like, eq_dels) for e in entries]


def _eq_include_spec(meta: dict, entry: dict) -> tuple[str, list[tuple[str, int]]]:
    """(path, [(write-time name, field id)]) for an equality delete file
    — the reader loads the tombstone by its own write names and matches
    data columns by field id."""
    by_sid = {s["schema-id"]: s for s in meta["schemas"]}
    cur_sid = meta["current-schema-id"]
    esid = entry.get("schema-id")
    eby_id = _fid_map(by_sid.get(cur_sid if esid is None else esid, by_sid[cur_sid]))
    return entry["path"], [(eby_id[i], i) for i in entry.get("equality-ids", [])]


class IceliteBatchReader(DataSourceReader):
    """Batch read path: the driver asks plan_table_scan for file scan
    tasks (the SAME contract the REST /plan endpoint serves), executors
    read parquet via pyarrow and anti-apply the per-task tombstones —
    merge-on-read without any engine scan machinery on the read side.
    Options: metastore|rest-url, warehouse, namespace, table, and
    optionally snapshot-id / ref / partition-filter (JSON dict)."""

    def __init__(self, options: dict):
        from ..format.icelite import plan_table_scan

        self.options = dict(options)
        meta = _table(options).metadata()
        self.location = meta["location"]
        pfilter = (
            json.loads(options["partition-filter"])
            if options.get("partition-filter")
            else None
        )
        plan = plan_table_scan(
            meta,
            snapshot_id=(
                int(options["snapshot-id"]) if options.get("snapshot-id") else None
            ),
            ref=options.get("ref"),
            partition_filter=pfilter,
        )
        # row-lineage=true (v3): emit _row_id after the data columns —
        # the DataFrame-API twin of SparkTable.scan(row_lineage=True);
        # each task's data file carries its claimed range start
        row_lineage = (
            str(options.get("row-lineage", "false")).lower() == "true"
        )
        if row_lineage and meta.get("format-version", 2) < 3:
            raise ValueError(
                "row-lineage=true requires format-version >= 3 "
                f"(table is v{meta.get('format-version', 2)})"
            )
        self.parts: list[_TaskPartition] = _task_partitions(
            meta,
            plan["plan-tasks"],
            _arrow_schema_of(_schema_doc(meta), lineage=row_lineage),
            row_lineage=row_lineage,
        )

    def partitions(self):
        return self.parts

    def read(self, partition: _TaskPartition):
        yield from _read_task_batches(partition)


def _positions_for(location: str, paths: list[str], data_path: str):
    """Sorted unique int64 ordinals that the given positional artifacts
    (parquet position-delete files or Puffin DV containers, by relative
    path) assert against ``data_path``. Containers decode once per
    worker via the (path, mtime) cache."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = []
    for rel in paths:
        path = f"{location}/{rel}"
        if path.endswith(".puffin"):  # v3 deletion-vector container
            from ..format.dv import read_deletion_vectors_cached

            dv = read_deletion_vectors_cached(path).get(data_path)
            parts.append(dv if dv is not None else np.empty(0, dtype=np.int64))
            continue
        t = pq.read_table(path, columns=["file_path", "pos"])
        t = t.filter(pc.equal(t.column("file_path"), pa.scalar(data_path)))
        parts.append(t.column("pos").to_numpy(zero_copy_only=False).astype(np.int64))
    return np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)


def _read_task_batches(partition: _TaskPartition):
    """Arrow-batched MOR scan: yields `pyarrow.RecordBatch`es. Position
    deletes apply as a boolean mask over the batch's row-ordinal range;
    equality deletes as vectorized set membership (`pc.is_in`), with
    comparison columns resolved by FIELD ID against the data file's
    write schema — renames never resurrect deleted rows.

    CDC restrictions invert the mask sense: ``include_pos`` keeps ONLY
    ordinals newly tombstoned by a commit (new minus re-stated) and
    ``include_eq`` keeps ONLY rows matching a newly-added equality
    delete; ``change_type`` appends the `_change_type` /
    `_commit_snapshot_id` tail columns — together they turn the batch
    MOR reader into the executor side of the streaming change feed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    task = partition.task
    d = task["data-file"]
    pf = pq.ParquetFile(f"{partition.location}/{d['path']}")
    avail = set(pf.schema_arrow.names)
    fid_to_w = partition.fid_to_wname
    tgt = partition.target_fields
    aschema = partition.arrow_schema
    change = getattr(partition, "change_type", None)
    # positional tombstones targeting THIS file -> sorted dead ordinals
    dead = _positions_for(
        partition.location,
        [pd_file["path"] for pd_file in task["position-delete-files"]],
        d["path"],
    )
    # CDC: ordinals newly killed by this commit = new minus re-stated
    inc_pos = None
    if partition.include_pos is not None:
        new_paths, restated_paths = partition.include_pos
        inc_pos = np.setdiff1d(
            _positions_for(partition.location, new_paths, d["path"]),
            _positions_for(partition.location, restated_paths, d["path"]),
        )
        if not inc_pos.size:
            return
    # equality tombstones: the delete FILE reads by its own write-time
    # names; the DATA-side comparison columns resolve by field id
    eq_specs: list[tuple[list[str | None], set]] = []
    extra: set[str] = set()

    def eq_spec(path: str, cols_fids):
        names = [c for c, _ in cols_fids]
        t = pq.read_table(f"{partition.location}/{path}", columns=names)
        keys = (
            set(zip(*[t.column(c).to_pylist() for c in names])) if names else set()
        )
        data_cols = []
        for _, fid in cols_fids:
            w = fid_to_w.get(fid)
            data_cols.append(w if (w and w in avail) else None)
        extra.update(c for c in data_cols if c)
        return data_cols, keys

    for eq, cols_fids in zip(task["equality-delete-files"], partition.eq_read):
        eq_specs.append(eq_spec(eq["path"], cols_fids))
    inc_eq = None
    if partition.include_eq is not None:
        inc_eq = eq_spec(*partition.include_eq)
    lineage = getattr(partition, "row_lineage", False)
    need = sorted(
        {
            fid_to_w[fid]
            for fid, _ in tgt
            if fid in fid_to_w and fid_to_w[fid] in avail
        }
        | extra
        | ({"_row_id"} if lineage and "_row_id" in avail else set())
    )
    if aschema is None:  # arrow-unexpressible schema: row fallback
        yield from _batch_row_fallback(
            pf, partition, need, dead, eq_specs, inc_pos, inc_eq
        )
        return
    ordinal = 0
    for batch in pf.iter_batches(columns=need):
        n = batch.num_rows
        got = dict(zip(batch.schema.names, batch.columns))
        mask = np.ones(n, dtype=bool)
        if dead.size:
            lo, hi = np.searchsorted(dead, (ordinal, ordinal + n))
            mask[dead[lo:hi] - ordinal] = False
        for data_cols, keys in eq_specs:
            if keys:
                mask &= ~_eq_hit(got, data_cols, keys, n)
        if inc_pos is not None:
            keep = np.zeros(n, dtype=bool)
            lo, hi = np.searchsorted(inc_pos, (ordinal, ordinal + n))
            keep[inc_pos[lo:hi] - ordinal] = True
            mask &= keep
        if inc_eq is not None:
            mask &= _eq_hit(got, inc_eq[0], inc_eq[1], n)
        base_ordinal = ordinal
        ordinal += n
        sel = None if mask.all() else np.flatnonzero(mask)
        m = n if sel is None else len(sel)
        if m == 0:
            continue
        arrays = []
        for (fid, name), ftype in zip(tgt, aschema.types):
            arr = got.get(fid_to_w.get(fid))
            if arr is not None and sel is not None:
                arr = arr.take(pa.array(sel))
            arrays.append(
                _project_column(
                    arr, ftype, m, partition.partition_values.get(name)
                )
            )
        if lineage:
            arrays.append(
                _lineage_array(
                    got.get("_row_id"),
                    partition.first_row_id,
                    base_ordinal,
                    n,
                    sel,
                )
            )
        if change:
            arrays.append(pa.array([change] * m, type=pa.string()))
            arrays.append(pa.array([partition.commit_id] * m, type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=aschema)


def _eq_hit(got, data_cols, keys, n):
    """Boolean numpy mask of rows matched by one equality-delete file's
    key set. Single-column keys (the common case) run entirely in Arrow
    (`pc.is_in`); multi-column keys fall back to a python set probe over
    just the key columns. Null key values match null data values
    (Iceberg equality-delete semantics)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    live = [i for i, c in enumerate(data_cols) if c is not None]
    absent = [i for i in range(len(data_cols)) if data_cols[i] is None]
    # a key can only match if its value is NULL in every column the data
    # file lacks (those data values are all NULL)
    keys = {k for k in keys if all(k[i] is None for i in absent)}
    if not keys:
        return np.zeros(n, dtype=bool)
    if not live:
        return np.ones(n, dtype=bool)
    if len(live) == 1:
        i = live[0]
        arr = got[data_cols[i]]
        vals = [k[i] for k in keys]
        non_null = [v for v in vals if v is not None]
        hit = np.zeros(n, dtype=bool)
        if non_null:
            isin = pc.is_in(arr, value_set=pa.array(non_null, type=arr.type))
            hit |= isin.fill_null(False).to_numpy(zero_copy_only=False)
        if len(non_null) != len(vals):
            hit |= pc.is_null(arr).to_numpy(zero_copy_only=False)
        return hit
    cols = [got[data_cols[i]].to_pylist() for i in live]
    proj = {tuple(k[i] for i in live) for k in keys}
    return np.fromiter((t in proj for t in zip(*cols)), dtype=bool, count=n)


def _batch_row_fallback(pf, partition, need, dead, eq_specs, inc_pos=None, inc_eq=None):
    """Row-tuple MOR fallback for schemas Arrow can't carry (variant).
    Honors the CDC restrictions (`inc_pos` ordinal set / `inc_eq` key
    match) and appends the change-event tail when the partition is a
    change-feed task."""
    fid_to_w = partition.fid_to_wname
    deadset = set(dead.tolist())
    incset = set(inc_pos.tolist()) if inc_pos is not None else None
    change = getattr(partition, "change_type", None)
    tail = (change, partition.commit_id) if change else ()
    lineage = getattr(partition, "row_lineage", False)
    frid = getattr(partition, "first_row_id", None)
    ordinal = 0
    for batch in pf.iter_batches(columns=need):
        cols = dict(
            zip(batch.schema.names, (c.to_pylist() for c in batch.columns))
        )
        stored = cols.get("_row_id") if lineage else None
        for i in range(batch.num_rows):
            pos = ordinal
            ordinal += 1
            if pos in deadset:
                continue
            if any(
                tuple(cols[c][i] if c else None for c in data_cols) in keys
                for data_cols, keys in eq_specs
                if keys
            ):
                continue
            if incset is not None and pos not in incset:
                continue
            if inc_eq is not None and (
                tuple(cols[c][i] if c else None for c in inc_eq[0])
                not in inc_eq[1]
            ):
                continue
            lin = ()
            if lineage:
                rid = stored[i] if stored is not None else None
                if rid is None and frid is not None:
                    rid = frid + pos
                lin = (rid,)
            yield (
                tuple(
                    cols[fid_to_w[fid]][i]
                    if fid in fid_to_w and fid_to_w[fid] in cols
                    else _cast_partition_value(
                        partition.partition_values.get(name),
                        partition.partition_types.get(name),
                    )
                    for fid, name in partition.target_fields
                )
                + lin
                + tail
            )


def _cast_partition_value(v, iceberg_type):
    if v is None:
        return None
    t = str(iceberg_type)
    if t in ("int", "long", "bigint"):
        return int(v)
    if t in ("double", "float"):
        return float(v)
    if t == "date":
        import datetime

        return v if isinstance(v, datetime.date) else datetime.date.fromisoformat(str(v))
    if t == "boolean":
        return v if isinstance(v, bool) else str(v).lower() == "true"
    return v


# ---------------------------------------------------------------- write
class _WriteMessage(WriterCommitMessage):
    """Serializable per-task result: the manifest entries for the data
    files this task wrote (Iceberg's DataFile messages in its two-phase
    Spark write protocol)."""

    def __init__(self, entries: list[dict]):
        self.entries = entries


class IceliteBatchWriter(DataSourceArrowWriter):
    """df.write.format("icelite") — Iceberg's two-phase distributed
    write protocol on the Python DataSource API:

      phase 1 (executors): each task streams its Arrow batches to
        parquet files under data/<commit-uuid>/ (identity-partitioned
        tables get hive-style dirs), and returns the files' manifest
        entries (path/size/count/bounds/partition) as its commit
        message — data-sized work never touches the driver;
      phase 2 (driver): commit() hands the collected entries to
        icelite's one optimistic commit loop (SparkTable._commit_files:
        CAS on the branch head, rebase + retry on conflict — appends
        never conflict logically); abort() removes the orphaned files.

    The writer validates the incoming schema against the table's
    CURRENT schema by name+type (callers cast first; silent coercion
    would corrupt the field-id mapping), and every written file carries
    the id of that schema: a RENAME COLUMN committed before this write
    commits must not re-map the files' columns."""

    def __init__(self, options: dict, schema, overwrite: bool):
        from ..format.types import is_legacy_schema, spark_ddl_of

        self.options = dict(options)
        self.overwrite = overwrite
        meta = _table(options).metadata()
        self.location = meta["location"]
        self.commit_id = __import__("uuid").uuid4().hex
        cur = _schema_doc(meta)
        self.schema_id = cur["schema-id"]
        leg = is_legacy_schema(cur)
        want = {f["name"]: spark_ddl_of(f["type"], legacy=leg) for f in cur["fields"]}
        got = {f.name: f.dataType.simpleString() for f in schema.fields}
        if want != got:
            raise ValueError(
                f"schema mismatch: table has {want}, dataframe has {got}; "
                "cast/select to the table schema before writing"
            )
        # identity partition fields whose name IS a schema column: these
        # go to hive directory names, not file contents
        spec = next(
            (s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]),
            {"fields": []},
        )
        self.part_cols = [
            f.get("name") or f.get("source-name")
            for f in spec.get("fields", [])
            if f.get("transform", "identity") == "identity"
            and (f.get("name") or f.get("source-name")) in want
        ]
        if any(
            f.get("transform", "identity") != "identity"
            for f in spec.get("fields", [])
        ):
            raise ValueError(
                "DataSource writes support identity partitioning only; "
                "use SparkTable.append for transform-partitioned tables"
            )

    def write(self, iterator) -> _WriteMessage:
        import os
        import uuid as _uuid
        from urllib.parse import quote

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..format.icelite import _file_bounds

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _WriteMessage([])
        table = pa.Table.from_batches(batches)
        groups: list[tuple[dict, pa.Table]] = []
        if self.part_cols:
            import pyarrow.compute as pc

            keys = [table.column(c).to_pylist() for c in self.part_cols]
            distinct = sorted(set(zip(*keys)))
            for vals in distinct:
                mask = None
                for c, v in zip(self.part_cols, vals):
                    m = pc.equal(table.column(c), pa.scalar(v))
                    mask = m if mask is None else pc.and_(mask, m)
                sub = table.filter(mask).drop_columns(self.part_cols)
                groups.append((dict(zip(self.part_cols, vals)), sub))
        else:
            groups.append(({}, table))
        entries = []
        for pvals, sub in groups:
            segs = [f"{k}={quote(str(v), safe='')}" for k, v in pvals.items()]
            d = os.path.join(self.location, "data", self.commit_id, *segs)
            os.makedirs(d, exist_ok=True)
            fpath = os.path.join(d, f"task-{_uuid.uuid4().hex[:12]}.parquet")
            pq.write_table(sub, fpath)
            md = pq.ParquetFile(fpath).metadata
            entries.append(
                {
                    "path": os.path.relpath(fpath, self.location),
                    "file-size-in-bytes": os.path.getsize(fpath),
                    "record-count": md.num_rows,
                    "partition": {k: str(v) for k, v in pvals.items()},
                    "schema-id": self.schema_id,
                    "bounds": _file_bounds(md),
                }
            )
        return _WriteMessage(entries)

    def commit(self, messages) -> None:
        _table(self.options)._commit_files(
            [e for m in messages if m is not None for e in m.entries],
            replace=self.overwrite,
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.location, "data", self.commit_id), ignore_errors=True
        )



class IceliteStreamSinkWriter(IceliteBatchWriter, DataSourceStreamArrowWriter):
    """writeStream.format("icelite") — EXACTLY-ONCE streaming appends:
    per epoch, executors write files exactly as the batch path does; the
    driver commit stamps the snapshot summary with (stream-id, epoch)
    and SKIPS any epoch at or below the stream's high-water mark, so
    Spark's epoch replay after failure/restart never double-appends
    (Iceberg's streaming-commit idempotence pattern; st10 proves the
    same property at the MERGE level). Option ``stream-id`` names the
    stream (one table can absorb several)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        super().__init__(options, schema, overwrite=False)
        if overwrite:
            raise ValueError(
                "icelite streaming sink supports append output mode only"
            )
        self.stream_id = str(options.get("stream-id", "default"))

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API)
        entries = [e for m in messages if m is not None for e in m.entries]
        if not entries:
            return

        def replayed(meta) -> bool:
            done = [
                s["summary"].get("streaming-epoch")
                for s in meta["snapshots"]
                if s["summary"].get("streaming-stream-id") == self.stream_id
            ]
            return bool(done) and batchId <= max(done)

        committed = _table(self.options)._commit_files(
            entries,
            extra_summary={
                "streaming-stream-id": self.stream_id,
                "streaming-epoch": batchId,
            },
            skip=replayed,
        )
        if committed is None:
            self.abort(messages, batchId)  # replayed epoch: files are dupes

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API)
        for m in messages or []:
            for e in getattr(m, "entries", []) or []:
                try:
                    os.unlink(os.path.join(self.location, e["path"]))
                except OSError:
                    pass
